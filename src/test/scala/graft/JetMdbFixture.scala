package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

/** Test-side Jet4 `.mdb` fixture writer: emits the page structures the
  * public format notes describe (header page, MSysObjects catalog at
  * page 2, per-table TDEF + data pages) so JetMdbSourceSpec can
  * validate the production reader against files it did not produce
  * with the same code paths. The writer is deliberately independent:
  * it lays out bytes directly from the documented offsets rather than
  * calling any reader-side helper, so a shared misunderstanding of an
  * offset shows up as a spec failure, not silent agreement.
  *
  * Value encodings accepted per column code (see JetMdbFormat):
  * Boolean, Short (BYTE/INT), Int (LONG), java.math.BigDecimal
  * (MONEY), Float, Double, Long epoch-micros (DATETIME), String
  * (TEXT), String canonical GUID (GUID), or null.
  */
object JetMdbFixture {

  val PageSize = 4096

  final case class Col(name: String, code: Int, fixedLen: Int = 0,
      prec: Int = 0, scale: Int = 0,
      // descriptor flag 0x04: AutoNumber (complex flat tables use it
      // to mark their bookkeeping pk)
      auto: Boolean = false)

  /** Index declaration for the TDEF index section (same documented
    * profile the production reader parses). */
  final case class IndexDef(
      name: String, cols: Seq[String], unique: Boolean, primary: Boolean)

  final case class Table(
      name: String,
      cols: Seq[Col],
      rows: Seq[Seq[Any]],
      deleted: Set[Int] = Set.empty,
      compressText: Boolean = false,
      indexes: Seq[IndexDef] = Nil,
      // catalog Type 3 (system) instead of 1 (user) — e.g. a fixture
      // MSysRelationships table
      system: Boolean = false,
      // memo/OLE columns named here store their payload on shared
      // LVAL pages (single-page type); others store inline
      lvalCols: Set[String] = Set.empty,
      // COMPLEX (0x12) column name → flat side-table NAME: the writer
      // emits the matching MSysComplexColumns rows once every table's
      // TDEF page is known (r13)
      complexCols: Map[String, String] = Map.empty,
      // columns stored as CHAINED (type-2) LVALs: payload split into
      // chainChunk-byte rows, each prefixed with a 4-byte pointer to
      // the next chunk's (row << 24 | page) location
      chainedCols: Set[String] = Set.empty,
      chainChunk: Int = 1000)

  private def le(bytes: Array[Byte]) =
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

  private def fixedLenOf(c: Col): Int = c.code match {
    case 0x01 => 0 // BOOL lives in the null mask
    case 0x02 => 1
    case 0x03 => 2
    case 0x04 => 4
    case 0x05 => 8
    case 0x06 => 4
    case 0x07 => 8
    case 0x08 => 8
    case 0x0F => 16
    case 0x10 => 17 // NUMERIC: sign byte + 16-byte mantissa
    case 0x13 => 8 // ACE 2016 BIGINT (Large Number)
    case 0x12 => 4 // ACE COMPLEX: u32 complex-value key
    case 0x14 => 42 // ACE Date/Time Extended: 9:5:7 ASCII + 19 pad
    case 0x0A => c.fixedLen // fixed text only when fixedLen > 0
    case other => sys.error(f"fixture: no fixed length for 0x$other%02x")
  }

  private def isVar(c: Col): Boolean =
    (c.code == 0x0A && c.fixedLen == 0) || c.code == 0x0C || c.code == 0x0B
  private def isBool(c: Col): Boolean = c.code == 0x01

  private val LvalOwner: Int = 'L' | ('V' << 8) | ('A' << 16) | ('L' << 24)

  private def memoHeader(len: Int, flags: Int, ptr: Int): Array[Byte] = {
    val h = new Array[Byte](12)
    val b = le(h)
    b.putInt(0, (len & 0xFFFFFF) | (flags << 24))
    b.putInt(4, ptr)
    h
  }

  private def payloadOf(c: Col, v: Any, compress: Boolean): Array[Byte] =
    c.code match {
      case 0x0C => encodeText(v.asInstanceOf[String], compress)
      case 0x0B => v.asInstanceOf[Array[Byte]]
      case _ => sys.error("payloadOf: not a memo/ole column")
    }

  /** TDEF page bytes for a table at `tdefPage`. Builds the LOGICAL
    * buffer (head-page offsets) in one oversized array; callers split
    * wide tables into continuation pages via [[tdefPagesChained]]
    * (r12 — the reader's multi-page concatenation profile). */
  private def tdefPageBytes(
      t: Table, numRows: Int, system: Boolean): Array[Byte] = {
    val p = new Array[Byte](PageSize * 8)
    val b = le(p)
    p(0) = 0x02; p(1) = 0x01
    b.putInt(4, 0) // single-page TDEF
    b.putInt(16, numRows)
    p(40) = if (system) 0x53 else 0x4e
    val varCols = t.cols.count(isVar)
    b.putShort(41, t.cols.length.toShort) // max_cols
    b.putShort(43, varCols.toShort)
    b.putShort(45, t.cols.length.toShort)
    b.putInt(47, t.indexes.length) // num_idx
    b.putInt(51, t.indexes.length) // num_real_idx
    var off = 63 + t.indexes.length * 8 // zeroed per-real-index headers
    var fixedOff = 0
    var varIdx = 0
    t.cols.zipWithIndex.foreach { case (c, i) =>
      p(off) = c.code.toByte
      b.putShort(off + 5, i.toShort) // col_num
      if (isVar(c)) { b.putShort(off + 7, varIdx.toShort); varIdx += 1 }
      b.putShort(off + 9, i.toShort)
      if (c.code == 0x10) { // NUMERIC precision/scale
        p(off + 11) = c.prec.toByte
        p(off + 12) = c.scale.toByte
      }
      // flags: 0x01 fixed, 0x02 nullable, 0x04 AutoNumber
      val fixed = !isVar(c)
      p(off + 17) = ((if (fixed) 0x01 else 0x00) | 0x02 |
        (if (c.auto) 0x04 else 0x00)).toByte
      if (fixed && !isBool(c)) {
        b.putShort(off + 19, fixedOff.toShort)
        fixedOff += fixedLenOf(c)
      }
      b.putShort(off + 21,
        (if (isVar(c)) 0 else fixedLenOf(c)).toShort)
      off += 25
    }
    t.cols.foreach { c =>
      val nb = c.name.getBytes(StandardCharsets.UTF_16LE)
      b.putShort(off, nb.length.toShort)
      System.arraycopy(nb, 0, p, off + 2, nb.length)
      off += 2 + nb.length
    }
    // index section: physical entries (52 B), logical entries (28 B),
    // then u16-length-prefixed UCS-2LE names — laid out from the
    // documented offsets, independent of the production writer
    val colNum = t.cols.map(_.name).zipWithIndex.toMap
    t.indexes.foreach { ix =>
      off += 4
      (0 until 10).foreach { slot =>
        if (slot < ix.cols.length) {
          b.putShort(off + 3 * slot, colNum(ix.cols(slot)).toShort)
          p(off + 3 * slot + 2) = 0x01
        } else b.putShort(off + 3 * slot, 0xFFFF.toShort)
      }
      off += 30 + 4 + 4 // slots, usage ptr, first page
      p(off) = (if (ix.unique || ix.primary) 0x01 else 0x00).toByte
      off += 10
    }
    t.indexes.zipWithIndex.foreach { case (ix, k) =>
      off += 4
      b.putInt(off, k); off += 4
      b.putInt(off, k); off += 4
      off += 15
      p(off) = (if (ix.primary) 0x01 else 0x00).toByte
      off += 1
    }
    t.indexes.foreach { ix =>
      val nb = ix.name.getBytes(StandardCharsets.UTF_16LE)
      b.putShort(off, nb.length.toShort)
      System.arraycopy(nb, 0, p, off + 2, nb.length)
      off += 2 + nb.length
    }
    require(off <= p.length, s"fixture: TDEF overflow for ${t.name}")
    b.putInt(8, off) // tdef_len: documented logical length (r12)
    // trim to the logical length (header stays at the front)
    java.util.Arrays.copyOfRange(p, 0, math.max(off, PageSize))
  }

  /** Split a logical TDEF buffer into the head page + continuation
    * pages starting at `headPage`: head keeps its first 4096 bytes
    * with the next pointer patched in; each continuation carries an
    * 8-byte header (type 0x02, next pointer @4) and the following
    * slice of the buffer — the exact concatenation profile the
    * production reader reassembles. */
  private def tdefPagesChained(
      t: Table, numRows: Int, system: Boolean,
      headPage: Int): Seq[Array[Byte]] = {
    val buf = tdefPageBytes(t, numRows, system)
    if (buf.length <= PageSize) Seq(buf)
    else {
      val chunk = PageSize - 8
      val restLen = buf.length - PageSize
      val nCont = (restLen + chunk - 1) / chunk
      val head = java.util.Arrays.copyOfRange(buf, 0, PageSize)
      le(head).putInt(4, headPage + 1)
      val conts = (0 until nCont).map { k =>
        val pg = new Array[Byte](PageSize)
        pg(0) = 0x02; pg(1) = 0x01
        le(pg).putInt(4,
          if (k == nCont - 1) 0 else headPage + 2 + k)
        val from = PageSize + k * chunk
        val len = math.min(chunk, buf.length - from)
        System.arraycopy(buf, from, pg, 8, len)
        pg
      }
      head +: conts
    }
  }

  private def encodeText(s: String, compress: Boolean): Array[Byte] =
    if (compress && s.forall(ch => ch < 256 && ch != 0)) {
      // Unicode-compressed: FF FE marker then single bytes
      val out = new Array[Byte](2 + s.length)
      out(0) = 0xFF.toByte; out(1) = 0xFE.toByte
      var i = 0
      while (i < s.length) { out(2 + i) = s.charAt(i).toByte; i += 1 }
      out
    } else s.getBytes(StandardCharsets.UTF_16LE)

  /** Encode one row per the documented Jet4 layout. `ptrs` maps a
    * var-memo column index to its (lvalPage, lvalRow) location for
    * single-LVAL payloads; `chainPtrs` to the FIRST chunk of a
    * chained (type-2) payload. */
  private def encodeRow(
      t: Table, row: Seq[Any],
      ptrs: Map[Int, (Int, Int)] = Map.empty,
      chainPtrs: Map[Int, (Int, Int)] = Map.empty): Array[Byte] = {
    val nCols = t.cols.length
    val bitmaskSz = (nCols + 7) / 8
    val fixedLen = t.cols.filter(c => !isVar(c) && !isBool(c))
      .map(fixedLenOf).sum
    val varCols = t.cols.count(isVar)
    val hasVarTable = varCols > 0
    val varData = ArrayBuffer.empty[Array[Byte]]
    t.cols.zip(row).zipWithIndex.foreach { case ((c, v), ci) =>
      if (isVar(c))
        varData += (
          if (v == null) Array.emptyByteArray
          else if (c.code == 0x0C || c.code == 0x0B) {
            val payload = payloadOf(c, v, t.compressText)
            ptrs.get(ci) match {
              case Some((pg, rw)) => // single-page LVAL pointer
                memoHeader(payload.length, 0x40, (rw << 24) | pg)
              case None => chainPtrs.get(ci) match {
                case Some((pg, rw)) => // chained (type-2) first chunk
                  memoHeader(payload.length, 0x00, (rw << 24) | pg)
                case None => // inline: header + payload in the row
                  memoHeader(payload.length, 0x80, 0) ++ payload
              }
            }
          } else encodeText(v.asInstanceOf[String], t.compressText))
    }
    val varLen = varData.map(_.length).sum
    val total = 2 + fixedLen + varLen +
      (if (hasVarTable) 2 * (varCols + 1) + 2 else 0) + bitmaskSz
    val r = new Array[Byte](total)
    val b = le(r)
    b.putShort(0, nCols.toShort)
    // fixed region
    var fOff = 2
    val mask = new Array[Byte](bitmaskSz)
    def setBit(i: Int): Unit =
      mask(i / 8) = (mask(i / 8) | (1 << (i % 8))).toByte
    t.cols.zip(row).zipWithIndex.foreach { case ((c, v), i) =>
      if (isBool(c)) {
        if (v.asInstanceOf[Boolean]) setBit(i)
      } else if (!isVar(c)) {
        if (v != null) {
          setBit(i)
          c.code match {
            case 0x02 => r(fOff) = (v.asInstanceOf[Short] & 0xFF).toByte
            case 0x03 => b.putShort(fOff, v.asInstanceOf[Short])
            case 0x04 => b.putInt(fOff, v.asInstanceOf[Int])
            case 0x12 => b.putInt(fOff, v.asInstanceOf[Int]) // complex key
            case 0x13 => b.putLong(fOff, v.asInstanceOf[Long])
            case 0x14 => // Date/Time Extended: micros → 9:5:7 ASCII
              // digits (days since 0001-01-01, seconds-in-day, 100ns
              // units), 19 zero bytes of undecoded tail
              val micros = v.asInstanceOf[Long]
              val epochDay = Math.floorDiv(micros, 86400000000L)
              val rem = Math.floorMod(micros, 86400000000L)
              val s42 = f"${epochDay + 719162L}%09d:" +
                f"${rem / 1000000L}%05d:${(rem % 1000000L) * 10L}%07d"
              val ab = s42.getBytes(StandardCharsets.US_ASCII)
              System.arraycopy(ab, 0, r, fOff, ab.length)
            case 0x05 =>
              val d = v.asInstanceOf[java.math.BigDecimal]
              b.putLong(fOff, d.movePointRight(4).longValueExact())
            case 0x06 => b.putFloat(fOff, v.asInstanceOf[Float])
            case 0x07 => b.putDouble(fOff, v.asInstanceOf[Double])
            case 0x08 => b.putDouble(fOff,
              v.asInstanceOf[Long] / 86400.0 / 1e6 + 25569.0)
            case 0x0F => putGuid(r, fOff, v.asInstanceOf[String])
            case 0x10 =>
              // sign 0x80 = negative, 16-byte BE mantissa right-aligned
              val bd = v.asInstanceOf[java.math.BigDecimal]
                .setScale(c.scale)
              val mag = bd.unscaledValue.abs.toByteArray
              val mOff = if (mag.length > 0 && mag(0) == 0) 1 else 0
              val mLen = mag.length - mOff
              require(mLen <= 16, "fixture: NUMERIC mantissa too wide")
              r(fOff) =
                if (bd.unscaledValue.signum < 0) 0x80.toByte else 0x00
              System.arraycopy(mag, mOff, r, fOff + 1 + (16 - mLen), mLen)
            case 0x0A =>
              val tb = v.asInstanceOf[String]
                .getBytes(StandardCharsets.UTF_16LE)
              System.arraycopy(tb, 0, r, fOff,
                math.min(tb.length, fixedLenOf(c)))
            case other => sys.error(f"fixture: fixed 0x$other%02x")
          }
        }
        fOff += fixedLenOf(c)
      }
    }
    // var data after the fixed region
    var vOff = 2 + fixedLen
    val varOffsets = new Array[Int](varCols + 1)
    var vi = 0
    varData.foreach { bytes =>
      varOffsets(vi) = vOff
      System.arraycopy(bytes, 0, r, vOff, bytes.length)
      vOff += bytes.length
      vi += 1
    }
    if (hasVarTable) varOffsets(varCols) = vOff // end of data
    // var-col null bits (null = empty extent AND clear bit)
    var mi = 0
    t.cols.zip(row).zipWithIndex.foreach { case ((c, v), i) =>
      if (isVar(c)) { if (v != null) setBit(i); mi += 1 }
    }
    // tail: [var table asc][u16 var count][null mask]
    val tail = total - bitmaskSz
    System.arraycopy(mask, 0, r, tail, bitmaskSz)
    if (hasVarTable) {
      b.putShort(tail - 2, varCols.toShort)
      val tabOff = tail - 2 - 2 * (varCols + 1)
      varOffsets.zipWithIndex.foreach { case (o, i) =>
        b.putShort(tabOff + 2 * i, o.toShort)
      }
    }
    r
  }

  private def putGuid(r: Array[Byte], off: Int, guid: String): Unit = {
    val parts = guid.split("-")
    val b = le(r)
    b.putInt(off, java.lang.Long.parseLong(parts(0), 16).toInt)
    b.putShort(off + 4, Integer.parseInt(parts(1), 16).toShort)
    b.putShort(off + 6, Integer.parseInt(parts(2), 16).toShort)
    val tail = parts(3) + parts(4)
    (0 until 8).foreach { i =>
      r(off + 8 + i) =
        Integer.parseInt(tail.substring(i * 2, i * 2 + 2), 16).toByte
    }
  }

  /** Pack encoded rows into data pages owned by `tdefPage`. */
  private def dataPages(
      tdefPage: Int, rows: Seq[Array[Byte]],
      deleted: Set[Int]): Seq[Array[Byte]] = {
    val pages = ArrayBuffer.empty[Array[Byte]]
    var idx = 0
    while (idx < rows.length) {
      val p = new Array[Byte](PageSize)
      val b = le(p)
      p(0) = 0x01; p(1) = 0x01
      b.putInt(4, tdefPage)
      var dataTop = PageSize
      var n = 0
      var fits = true
      while (idx < rows.length && fits) {
        val r = rows(idx)
        if (14 + 2 * (n + 1) <= dataTop - r.length) {
          dataTop -= r.length
          System.arraycopy(r, 0, p, dataTop, r.length)
          val flag = if (deleted.contains(idx)) 0x8000 else 0
          b.putShort(14 + 2 * n, (dataTop | flag).toShort)
          n += 1
          idx += 1
        } else fits = false
      }
      b.putShort(12, n.toShort)
      b.putShort(2, (dataTop - (14 + 2 * n)).toShort) // free space
      pages += p
    }
    pages.toSeq
  }

  /** Like dataPages but returns each blob's (pageIdx, rowIdx). */
  private def dataPagesWithLocs(
      owner: Int, blobs: Seq[Array[Byte]])
      : (Seq[Array[Byte]], Seq[(Int, Int)]) = {
    val pages = ArrayBuffer.empty[Array[Byte]]
    val locs = ArrayBuffer.empty[(Int, Int)]
    var idx = 0
    while (idx < blobs.length) {
      val p = new Array[Byte](PageSize)
      val b = le(p)
      p(0) = 0x01; p(1) = 0x01
      b.putInt(4, owner)
      var dataTop = PageSize
      var n = 0
      var fits = true
      while (idx < blobs.length && fits) {
        val r = blobs(idx)
        if (14 + 2 * (n + 1) <= dataTop - r.length) {
          dataTop -= r.length
          System.arraycopy(r, 0, p, dataTop, r.length)
          b.putShort(14 + 2 * n, dataTop.toShort)
          locs += ((pages.length, n))
          n += 1
          idx += 1
        } else fits = false
      }
      b.putShort(12, n.toShort)
      b.putShort(2, (dataTop - (14 + 2 * n)).toShort)
      pages += p
    }
    (pages.toSeq, locs.toSeq)
  }

  /** Write a Jet4 database file holding `tables`. */
  def write(path: String, tables: Seq[Table]): Unit =
    write(path, tables, aceVersion = 0)

  /** As [[write]]; `aceVersion` 0 emits a Jet4 header, 0x02–0x05 an
    * ACE (`.accdb`) header — magic "Standard ACE DB" + that version
    * byte (r12). Everything past page 0 is byte-identical to Jet4,
    * which is exactly the public ACE profile the reader rides. */
  def write(path: String, tables: Seq[Table], aceVersion: Int): Unit = {
    val pages = ArrayBuffer.empty[Array[Byte]]
    // page 0: header
    val hdr = new Array[Byte](PageSize)
    hdr(0) = 0x00; hdr(1) = 0x01
    val magic = (if (aceVersion == 0) "Standard Jet DB"
      else "Standard ACE DB").getBytes(StandardCharsets.US_ASCII)
    System.arraycopy(magic, 0, hdr, 4, magic.length)
    hdr(0x14) = (if (aceVersion == 0) 0x01 else aceVersion).toByte
    pages += hdr
    // page 1: global usage bitmap (placeholder; reader never parses it)
    val usage = new Array[Byte](PageSize)
    usage(0) = 0x05; usage(1) = 0x01
    pages += usage
    // pages 2..3 reserved for the catalog; user tables follow
    pages += null; pages += null
    val catalogRows = ArrayBuffer[Seq[Any]](
      Seq(Integer.valueOf(2), java.lang.Short.valueOf(3.toShort),
        "MSysObjects"))
    val tdefPageByName = scala.collection.mutable.Map.empty[String, Int]
    tables.foreach { t =>
      // LVAL payload pages first (several payloads per page, so the
      // reader's row-index lookup is exercised), then TDEF + data
      val lvalIdx = t.cols.zipWithIndex.collect {
        case (c, ci)
          if (c.code == 0x0C || c.code == 0x0B) &&
            t.lvalCols.contains(c.name) => ci
      }
      val entries = for {
        (row, ri) <- t.rows.zipWithIndex
        ci <- lvalIdx if row(ci) != null
      } yield ((ri, ci),
        payloadOf(t.cols(ci), row(ci), t.compressText))
      val lvalBase = pages.length
      val (lvalPages, locs) =
        dataPagesWithLocs(LvalOwner, entries.map(_._2))
      lvalPages.foreach(pages += _)
      val ptrByKey: Map[(Int, Int), (Int, Int)] =
        entries.map(_._1).zip(locs.map { case (pi, rw) =>
          (lvalBase + pi, rw)
        }).toMap
      // chained (type-2) payloads: split into chainChunk-byte rows
      // of [4-byte next pointer][chunk] on LVAL pages, then patch the
      // pointers once every chunk's (page, row) is known
      val chainIdx = t.cols.zipWithIndex.collect {
        case (c, ci)
          if (c.code == 0x0C || c.code == 0x0B) &&
            t.chainedCols.contains(c.name) => ci
      }
      val chainEntries = for {
        (row, ri) <- t.rows.zipWithIndex
        ci <- chainIdx if row(ci) != null
      } yield ((ri, ci),
        payloadOf(t.cols(ci), row(ci), t.compressText)
          .grouped(t.chainChunk).toSeq)
      val chainBase = pages.length
      val (chainPages, chainLocs) = dataPagesWithLocs(LvalOwner,
        chainEntries.flatMap(_._2).map(c => new Array[Byte](4) ++ c))
      chainPages.foreach(pages += _)
      var li = 0
      val chainPtrByKey = chainEntries.map { case (k, chunks) =>
        val entryLocs = chainLocs.slice(li, li + chunks.length)
          .map { case (pi, rw) => (chainBase + pi, rw) }
        li += chunks.length
        for (i <- 0 until entryLocs.length - 1) {
          val (pgAbs, rw) = entryLocs(i)
          val p = pages(pgAbs)
          val start = ((p(14 + 2 * rw) & 0xFF) |
            ((p(15 + 2 * rw) & 0xFF) << 8)) & 0x1FFF
          val (npg, nrw) = entryLocs(i + 1)
          le(p).putInt(start, (nrw << 24) | npg)
        }
        k -> entryLocs.headOption.getOrElse((0, 0))
      }.toMap
      val tdefPage = pages.length
      val encoded = t.rows.zipWithIndex.map { case (row, ri) =>
        encodeRow(t, row,
          ptrByKey.collect { case ((r, c), loc) if r == ri => c -> loc },
          chainPtrByKey.collect {
            case ((r, c), loc) if r == ri => c -> loc
          })
      }
      val dps = dataPages(tdefPage, encoded, t.deleted)
      tdefPagesChained(t, t.rows.length, system = false,
        headPage = pages.length).foreach(pages += _)
      dps.foreach(pages += _)
      catalogRows += Seq(Integer.valueOf(tdefPage),
        java.lang.Short.valueOf(if (t.system) 3.toShort else 1.toShort),
        t.name)
      tdefPageByName(t.name) = tdefPage
    }
    // MSysComplexColumns (r13): once every TDEF page is known, emit
    // one row per declared COMPLEX column linking (main TDEF page,
    // column ordinal) → flat table's TDEF page — the catalog schema
    // the production reader resolves flat tables through
    val complexRows = tables.flatMap { t =>
      t.complexCols.toSeq.map { case (colName, flatName) =>
        val colId = t.cols.indexWhere(_.name == colName)
        require(colId >= 0, s"fixture: no column '$colName' in ${t.name}")
        Seq(Integer.valueOf(tdefPageByName(t.name)),
          Integer.valueOf(colId),
          Integer.valueOf(tdefPageByName(flatName)),
          Integer.valueOf(0)): Seq[Any]
      }
    }
    if (complexRows.nonEmpty) {
      val sysCc = Table("MSysComplexColumns",
        Seq(Col("ConceptualTableID", 0x04), Col("ColumnID", 0x04),
          Col("FlatTableID", 0x04), Col("ComplexTypeObjectID", 0x04)),
        complexRows, system = true)
      val ccTdefPage = pages.length
      tdefPagesChained(sysCc, complexRows.length, system = true,
        headPage = ccTdefPage).foreach(pages += _)
      dataPages(ccTdefPage, complexRows.map(encodeRow(sysCc, _)),
        Set.empty).foreach(pages += _)
      catalogRows += Seq(Integer.valueOf(ccTdefPage),
        java.lang.Short.valueOf(3.toShort), "MSysComplexColumns")
    }
    // catalog: MSysObjects at page 2 (Id LONG, Type INT, Name TEXT)
    val sysTable = Table(
      "MSysObjects",
      Seq(Col("Id", 0x04), Col("Type", 0x03), Col("Name", 0x0A)),
      catalogRows.toSeq)
    val catTdef = tdefPagesChained(sysTable, catalogRows.length,
      system = true, headPage = 2)
    require(catTdef.length == 1, "fixture: catalog TDEF must fit one page")
    pages(2) = catTdef.head
    val catData = dataPages(2, catalogRows.toSeq.map(encodeRow(sysTable, _)),
      Set.empty)
    require(catData.length == 1, "fixture: catalog must fit one page")
    pages(3) = catData.head
    val out = new java.io.ByteArrayOutputStream(pages.length * PageSize)
    pages.foreach(out.write)
    Files.write(Paths.get(path), out.toByteArray)
  }

  /** As [[write]], then ENCRYPT the file in place under the public
    * Jet RC4 page-scramble profile (r14) — an INDEPENDENT test-side
    * encoder, sharing no code with the production JetCrypt decryptor:
    * the 4-byte key lands at header offset 0x3e (XORed with the
    * fixed C7 DA 39 6B header keystream for Jet4/ACE, clear for
    * Jet3-style callers), and every page except page 0 is RC4'd with
    * key XOR pageNumber little-endian. */
  def writeEncrypted(path: String, tables: Seq[Table],
      aceVersion: Int, dbKey: Int): Unit = {
    require(dbKey != 0, "fixture: a zero key means not encrypted")
    write(path, tables, aceVersion)
    val bytes = Files.readAllBytes(Paths.get(path))
    // independent RC4 (stream-cipher textbook form, built as a
    // keystream ITERATOR rather than the in-place XOR loop the
    // production decoder uses)
    def keystream(key: Array[Byte]): Iterator[Int] = {
      val s = (0 until 256).toArray
      var j = 0
      for (i <- 0 until 256) {
        j = (j + s(i) + (key(i % key.length) & 0xFF)) & 0xFF
        val t = s(i); s(i) = s(j); s(j) = t
      }
      var i2 = 0
      var j2 = 0
      Iterator.continually {
        i2 = (i2 + 1) & 0xFF
        j2 = (j2 + s(i2)) & 0xFF
        val t = s(i2); s(i2) = s(j2); s(j2) = t
        s((s(i2) + s(j2)) & 0xFF)
      }
    }
    def le(v: Int): Array[Byte] = Array(
      (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    // header field: plaintext key XOR the fixed Jet4 header keystream
    // (region starts at 0x18, so 0x3e sits at keystream offset 0x26)
    val mask = keystream(Array(0xC7.toByte, 0xDA.toByte, 0x39.toByte,
      0x6B.toByte)).take(126).toArray
    val keyBytes = le(dbKey)
    for (k <- 0 until 4)
      bytes(0x3e + k) =
        (keyBytes(k) ^ mask(0x3e - 0x18 + k)).toByte
    // pages 1..N
    val pageCount = bytes.length / PageSize
    for (pn <- 1 until pageCount) {
      val ks = keystream(le(dbKey ^ pn))
      var o = pn * PageSize
      val end = o + PageSize
      while (o < end) {
        bytes(o) = (bytes(o) ^ ks.next()).toByte
        o += 1
      }
    }
    Files.write(Paths.get(path), bytes)
  }
}
