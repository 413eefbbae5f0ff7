package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.JetSql.translate

/** Differential fuzz for the Jet-SQL translator: random expression
  * trees render to Jet text (double-quoted strings with `""` escapes,
  * IIf/Nz/Switch/Choose, infix Mod, `&` concat, random whitespace),
  * translate to ANSI, EXECUTE in Spark — and must match an
  * independent in-test interpreter over the same tree. A structural
  * translator bug (dropped parens, wrong comma split, broken CASE
  * nesting, concat/Mod precedence) shows up as a value mismatch on
  * some seed; the seed is fixed so a failure reproduces exactly.
  *
  * Scope: literal-only expressions (no tables) in the two type lanes
  * Jet expressions mix — INTEGER arithmetic and STRING building.
  * NULL flows through Nz and out-of-range Choose. */
class JetSqlFuzzSpec extends AnyFunSuite {

  private sealed trait Expr
  private final case class IntLit(n: Int) extends Expr
  private final case class StrLit(s: String) extends Expr
  private case object NullLit extends Expr
  private final case class Add(a: Expr, b: Expr) extends Expr
  private final case class Mul(a: Expr, b: Expr) extends Expr
  private final case class Mod(a: Expr, b: Expr) extends Expr
  private final case class Concat(a: Expr, b: Expr) extends Expr
  private final case class Lt(a: Expr, b: Expr) extends Expr
  private final case class Iif(c: Expr, t: Expr, f: Expr) extends Expr
  private final case class Nz(a: Expr, b: Expr) extends Expr
  private final case class Switch(pairs: Seq[(Expr, Expr)]) extends Expr
  private final case class Choose(i: Expr, vs: Seq[Expr]) extends Expr
  // Left/Right: join keywords AND functions — inside &-chains they
  // exercise the boundary-detection fix
  private final case class TakeFn(left: Boolean, s: Expr, n: Int)
    extends Expr

  // ----- generation (seeded, deterministic) -----
  private def genInt(r: scala.util.Random, depth: Int): Expr =
    if (depth <= 0) IntLit(r.nextInt(19) - 9)
    else r.nextInt(7) match {
      case 0 => IntLit(r.nextInt(19) - 9)
      case 1 => Add(genInt(r, depth - 1), genInt(r, depth - 1))
      case 2 => Mul(genInt(r, depth - 1), genInt(r, depth - 1))
      case 3 => // nonzero divisor literal keeps both engines defined
        Mod(genInt(r, depth - 1), IntLit(r.nextInt(8) + 2))
      case 4 => Iif(genBool(r, depth - 1),
        genInt(r, depth - 1), genInt(r, depth - 1))
      case 5 => Nz(if (r.nextBoolean()) NullLit else genInt(r, depth - 1),
        genInt(r, depth - 1))
      case 6 => Choose(IntLit(r.nextInt(4) + 1), // may run past the list
        Seq.fill(r.nextInt(3) + 1)(genInt(r, depth - 1)))
    }

  private def genBool(r: scala.util.Random, depth: Int): Expr =
    Lt(genInt(r, depth.min(1)), genInt(r, depth.min(1)))

  private def genStr(r: scala.util.Random, depth: Int): Expr = {
    def lit() = StrLit(Seq.fill(r.nextInt(3) + 1)(
      "ab\"x'y z"(r.nextInt(8))).mkString)
    if (depth <= 0) lit()
    else r.nextInt(5) match {
      case 0 => lit()
      case 1 => Concat(genStr(r, depth - 1), genStr(r, depth - 1))
      case 2 => Iif(genBool(r, depth - 1),
        genStr(r, depth - 1), genStr(r, depth - 1))
      case 3 => Switch(Seq.fill(r.nextInt(2) + 1)(
        (genBool(r, depth - 1), genStr(r, depth - 1))))
      case 4 =>
        TakeFn(r.nextBoolean(), genStr(r, depth - 1), r.nextInt(4))
    }
  }

  // ----- render to Jet text -----
  private def ws(r: scala.util.Random): String =
    if (r.nextInt(4) == 0) "  " else " "
  private def jet(e: Expr, r: scala.util.Random): String = e match {
    case IntLit(n) => if (n < 0) s"($n)" else n.toString
    case StrLit(s) => "\"" + s.replace("\"", "\"\"") + "\""
    case NullLit => "Null"
    case Add(a, b) => s"(${jet(a, r)}${ws(r)}+${ws(r)}${jet(b, r)})"
    case Mul(a, b) => s"(${jet(a, r)}${ws(r)}*${ws(r)}${jet(b, r)})"
    case Mod(a, b) => s"(${jet(a, r)}${ws(r)}Mod${ws(r)}${jet(b, r)})"
    case Concat(a, b) => s"(${jet(a, r)}${ws(r)}&${ws(r)}${jet(b, r)})"
    case Lt(a, b) => s"(${jet(a, r)} < ${jet(b, r)})"
    case Iif(c, t, f) =>
      s"IIf(${jet(c, r)},${ws(r)}${jet(t, r)},${ws(r)}${jet(f, r)})"
    case Nz(a, b) => s"Nz(${jet(a, r)},${ws(r)}${jet(b, r)})"
    case Switch(ps) => "Switch(" + ps.map { case (c, v) =>
      s"${jet(c, r)},${ws(r)}${jet(v, r)}" }.mkString(", ") + ")"
    case Choose(i, vs) =>
      "Choose(" + (jet(i, r) +: vs.map(jet(_, r))).mkString(", ") + ")"
    case TakeFn(l, s, n) =>
      s"${if (l) "Left" else "Right"}(${jet(s, r)}, $n)"
  }

  // ----- independent reference interpreter -----
  private def eval(e: Expr): Any = e match {
    case IntLit(n) => n
    case StrLit(s) => s
    case NullLit => null
    case Add(a, b) => nInt(eval(a), eval(b))(_ + _)
    case Mul(a, b) => nInt(eval(a), eval(b))(_ * _)
    case Mod(a, b) => nInt(eval(a), eval(b))(_ % _)
    case Concat(a, b) => (eval(a), eval(b)) match {
      // Jet & treats Null as "" — the concat_ws('', …) rewrite's
      // contract (ANSI || would propagate the null instead)
      case (null, null) => ""
      case (null, y: String) => y
      case (x: String, null) => x
      case (x: String, y: String) => x + y
      case other => sys.error(s"type error $other")
    }
    case Lt(a, b) => nBool(eval(a), eval(b))(_ < _)
    case Iif(c, t, f) => eval(c) match {
      case java.lang.Boolean.TRUE => eval(t)
      case _ => eval(f) // null condition falls to ELSE, like CASE
    }
    case Nz(a, b) => eval(a) match { case null => eval(b); case v => v }
    case Switch(ps) => ps.collectFirst {
      case (c, v) if eval(c) == java.lang.Boolean.TRUE => eval(v)
    }.orNull
    case Choose(i, vs) => eval(i) match {
      case k: Int if k >= 1 && k <= vs.length => eval(vs(k - 1))
      case _ => null
    }
    case TakeFn(l, s, n) => eval(s) match {
      case null => null
      case x: String => if (l) x.take(n) else x.takeRight(n)
      case other => sys.error(s"type error $other")
    }
  }
  private def nInt(a: Any, b: Any)(f: (Int, Int) => Int): Any =
    (a, b) match {
      case (null, _) | (_, null) => null
      case (x: Int, y: Int) => f(x, y)
      case other => sys.error(s"type error $other")
    }
  private def nBool(a: Any, b: Any)(f: (Int, Int) => Boolean): Any =
    (a, b) match {
      case (null, _) | (_, null) => null
      case (x: Int, y: Int) => java.lang.Boolean.valueOf(f(x, y))
      case other => sys.error(s"type error $other")
    }

  private def norm(v: Any): Any = v match {
    case n: java.lang.Number => n.longValue
    case other => other
  }

  test("200 random typed PARAMETERS bindings render, execute, and " +
    "round-trip their values (quote escaping, banker's Currency, " +
    "date vs timestamp split)") {
    val spark = TestSpark.session
    val r = new scala.util.Random(314159L)
    def randTxt(): String = Seq.fill(r.nextInt(6) + 1)(
      "ab c'\"[]%_"(r.nextInt(10))).mkString
    // (declared type, binding, SQL cast for stable collection,
    //  expected collected string)
    def one(): (String, Any, String, String) = r.nextInt(6) match {
      case 0 =>
        val v = r.nextLong(1000000) - 500000
        ("Long", v, "", v.toString)
      case 1 =>
        val v = BigDecimal(r.nextInt(1000000) - 500000) / 100
        ("Currency", v, "",
          v.bigDecimal.setScale(4,
            java.math.RoundingMode.HALF_EVEN).toPlainString)
      case 2 =>
        val v = randTxt()
        ("Text", v, "", v)
      case 3 =>
        val v = java.time.LocalDate.of(
          2000 + r.nextInt(30), 1 + r.nextInt(12), 1 + r.nextInt(28))
        ("DateTime", v, "", v.toString)
      case 4 =>
        val v = java.time.LocalDateTime.of(
          2010 + r.nextInt(10), 1 + r.nextInt(12), 1 + r.nextInt(28),
          r.nextInt(24), r.nextInt(60), r.nextInt(60))
        ("DateTime", v, "",
          v.toLocalDate.toString + " " +
            f"${v.getHour}%02d:${v.getMinute}%02d:${v.getSecond}%02d")
      case _ =>
        val v = r.nextBoolean()
        ("Bit", v, "", v.toString)
    }
    (0 until 200).grouped(25).foreach { batch =>
      val cases = batch.map(i => (i, one()))
      val jet = "PARAMETERS " + cases.map { case (i, (tpe, _, _, _)) =>
        s"[P $i] $tpe" }.mkString(", ") + "; SELECT " +
        cases.map { case (i, _) => s"CStr([P $i]) AS c$i" }.mkString(", ")
      val binds = cases.map { case (i, (_, v, _, _)) =>
        s"p_$i" -> v }.toMap[String, Any]
      val row = spark.sql(translate(jet, binds)).collect()(0)
      cases.zipWithIndex.foreach { case ((i, (tpe, v, _, want)), k) =>
        val got = row.getString(k)
        assert(got == want, s"param $i ($tpe = $v): got '$got' want '$want'")
      }
    }
  }

  test("60 random crosstabs: the TRANSFORM→conditional-aggregation " +
    "rewrite matches Spark's own groupBy().pivot() on the same frame") {
    val spark = TestSpark.session
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c, sum => fsum,
      min => fmin, max => fmax, count => fcount}
    val r = new scala.util.Random(424242L)
    (0 until 60).foreach { k =>
      val grps = Seq("g1", "g2", "g3").take(r.nextInt(2) + 2)
      val cats = Seq("ca", "cb", "cc").take(r.nextInt(2) + 2)
      val rows = Seq.fill(r.nextInt(30) + 5)(
        (grps(r.nextInt(grps.length)), cats(r.nextInt(cats.length)),
          r.nextInt(100) - 50))
      val df = rows.toDF("grp", "cat", "v")
      df.createOrReplaceTempView(s"xt_fuzz")
      val (aggJet, aggRef) = r.nextInt(4) match {
        case 0 => ("Sum([v])", fsum(c("v")))
        case 1 => ("Min([v])", fmin(c("v")))
        case 2 => ("Max([v])", fmax(c("v")))
        case _ => ("Count([v])", fcount(c("v")))
      }
      val inList = cats.map(x => s"""\"$x\"""").mkString(", ")
      val got = spark.sql(translate(
        s"TRANSFORM $aggJet SELECT [grp] FROM xt_fuzz " +
          s"GROUP BY [grp] PIVOT [cat] IN ($inList)"))
        .orderBy("grp").collect().map(_.toSeq).toSeq
      val want = df.groupBy("grp").pivot("cat", cats).agg(aggRef)
        .orderBy("grp").collect().map(_.toSeq).toSeq
      assert(got == want, s"case $k: $aggJet over $cats\n$got\n$want")
    }
  }

  test("400 random string-function calls: UCase/LCase/Len/Mid/InStr/" +
    "Left/Right/Trim/StrReverse through the translator match a " +
    "direct Scala reference (1-based Mid, 0-if-absent InStr, " +
    "3-arg InStr→locate)") {
    val spark = TestSpark.session
    val r = new scala.util.Random(555777L)
    def randS(): String = Seq.fill(r.nextInt(6) + 1)(
      "abcABC xy'\""(r.nextInt(11))).mkString
    def lit(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""
    // (jet fragment, expected value as string-or-null)
    def one(): (String, String) = {
      val s = randS()
      r.nextInt(9) match {
        case 0 => (s"UCase(${lit(s)})", s.toUpperCase)
        case 1 => (s"LCase(${lit(s)})", s.toLowerCase)
        case 2 => (s"Len(${lit(s)})", s.length.toString)
        case 3 => // Mid is 1-based; start past the end yields ""
          val st = r.nextInt(s.length + 3) + 1
          val ln = r.nextInt(5)
          (s"Mid(${lit(s)}, $st, $ln)",
            if (st > s.length) "" else s.substring(st - 1,
              math.min(s.length, st - 1 + ln)))
        case 4 => // 2-arg Mid: the whole tail
          val st = r.nextInt(s.length + 2) + 1
          (s"Mid(${lit(s)}, $st)",
            if (st > s.length) "" else s.substring(st - 1))
        case 5 =>
          val nee = randS().take(r.nextInt(3) + 1)
          (s"InStr(${lit(s)}, ${lit(nee)})",
            (s.indexOf(nee) + 1).toString)
        case 6 => // 3-arg InStr searches FROM start (1-based)
          val nee = randS().take(r.nextInt(2) + 1)
          val st = r.nextInt(s.length) + 1
          (s"InStr($st, ${lit(s)}, ${lit(nee)})",
            (s.indexOf(nee, st - 1) + 1).toString)
        case 7 =>
          val n = r.nextInt(s.length + 3)
          if (r.nextBoolean()) (s"Left(${lit(s)}, $n)", s.take(n))
          else (s"Right(${lit(s)}, $n)", s.takeRight(n))
        case _ =>
          if (r.nextBoolean()) (s"Trim(${lit(" " + s + "  ")})", s.trim)
          else (s"StrReverse(${lit(s)})", s.reverse)
      }
    }
    Vector.fill(400)(one()).grouped(25).zipWithIndex.foreach {
      case (batch, bi) =>
        val row = spark.sql(translate("SELECT " +
          batch.zipWithIndex.map { case ((j, _), i) => s"$j AS c$i" }
            .mkString(", "))).collect()(0)
        batch.zipWithIndex.foreach { case ((j, want), i) =>
          val got = Option(row.get(i)).map(_.toString).orNull
          assert(got == want,
            s"batch $bi col $i: got '$got' want '$want'\n  $j")
        }
    }
  }

  test("400 random date-arithmetic calls: the emitted boundary-count " +
    "SQL matches a direct java.time implementation of the Jet " +
    "semantics (month-index diffs, Sunday-anchored ww, truncated " +
    "clocks, calendar-clamped adds)") {
    import java.time.LocalDateTime
    import java.time.temporal.ChronoUnit
    val spark = TestSpark.session
    val r = new scala.util.Random(98123L)
    def randTs(): LocalDateTime = LocalDateTime.of(
      2019 + r.nextInt(3), 1 + r.nextInt(12), 1 + r.nextInt(28),
      r.nextInt(24), r.nextInt(60), r.nextInt(60))
    def jetLit(t: LocalDateTime): String =
      f"#${t.getMonthValue}/${t.getDayOfMonth}/${t.getYear} " +
        f"${t.getHour}%d:${t.getMinute}%02d:${t.getSecond}%02d#"
    // days since Sunday (Jet's default week anchor)
    def dow0(t: LocalDateTime): Int = t.getDayOfWeek.getValue % 7
    def dayDiff(a: LocalDateTime, b: LocalDateTime): Long =
      ChronoUnit.DAYS.between(a.toLocalDate, b.toLocalDate)
    // the Jet semantics, implemented DIRECTLY (not via the SQL forms)
    def refDiff(code: String, a: LocalDateTime, b: LocalDateTime): Long =
      code match {
        case "yyyy" => (b.getYear - a.getYear).toLong
        case "q" => (b.getYear - a.getYear) * 4L +
          ((b.getMonthValue - 1) / 3 - (a.getMonthValue - 1) / 3)
        case "m" => (b.getYear - a.getYear) * 12L +
          (b.getMonthValue - a.getMonthValue)
        case "d" | "y" => dayDiff(a, b)
        case "w" => dayDiff(a, b) / 7 // toward zero like Fix
        case "ww" => (dayDiff(a, b) - dow0(b) + dow0(a)) / 7
        case "h" => ChronoUnit.HOURS.between(
          a.truncatedTo(ChronoUnit.HOURS), b.truncatedTo(ChronoUnit.HOURS))
        case "n" => ChronoUnit.MINUTES.between(
          a.truncatedTo(ChronoUnit.MINUTES),
          b.truncatedTo(ChronoUnit.MINUTES))
        case "s" => ChronoUnit.SECONDS.between(a, b)
      }
    def refAdd(code: String, k: Int, t: LocalDateTime): LocalDateTime =
      code match {
        case "yyyy" => t.plusYears(k.toLong)
        case "q" => t.plusMonths(3L * k)
        case "m" => t.plusMonths(k.toLong)
        case "d" | "y" | "w" => t.plusDays(k.toLong)
        case "ww" => t.plusWeeks(k.toLong)
        case "h" => t.plusHours(k.toLong)
        case "n" => t.plusMinutes(k.toLong)
        case "s" => t.plusSeconds(k.toLong)
      }
    def refPart(code: String, t: LocalDateTime): Long = code match {
      case "yyyy" => t.getYear.toLong
      case "q" => ((t.getMonthValue - 1) / 3 + 1).toLong
      case "m" => t.getMonthValue.toLong
      case "d" => t.getDayOfMonth.toLong
      case "y" => t.getDayOfYear.toLong
      case "w" => dow0(t) + 1L // Access Weekday: Sunday = 1
      case "h" => t.getHour.toLong
      case "n" => t.getMinute.toLong
      case "s" => t.getSecond.toLong
    }
    val diffCodes = Seq("yyyy", "q", "m", "d", "y", "w", "ww", "h", "n", "s")
    val partCodes = Seq("yyyy", "q", "m", "d", "y", "w", "h", "n", "s")
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
    val cases = Vector.fill(400)(r.nextInt(3)) // 0=diff 1=add 2=part
    cases.grouped(25).zipWithIndex.foreach { case (batch, bi) =>
      val built = batch.map {
        case 0 =>
          val (c, a, b) = (diffCodes(r.nextInt(diffCodes.length)),
            randTs(), randTs())
          (s"DateDiff(\"$c\", ${jetLit(a)}, ${jetLit(b)})",
            refDiff(c, a, b).toString)
        case 1 =>
          val (c, k, t) = (diffCodes(r.nextInt(diffCodes.length)),
            r.nextInt(49) - 24, randTs())
          (s"CStr(DateAdd(\"$c\", $k, ${jetLit(t)}))",
            refAdd(c, k, t).format(fmt))
        case _ =>
          val (c, t) = (partCodes(r.nextInt(partCodes.length)), randTs())
          (s"DatePart(\"$c\", ${jetLit(t)})", refPart(c, t).toString)
      }
      val row = spark.sql(translate("SELECT " +
        built.zipWithIndex.map { case ((j, _), i) => s"$j AS c$i" }
          .mkString(", "))).collect()(0)
      built.zipWithIndex.foreach { case ((j, want), i) =>
        val got = Option(row.get(i)).map(_.toString).orNull
        assert(got == want, s"batch $bi col $i: got $got want $want\n  $j")
      }
    }
  }

  test("400 random Jet LIKE patterns (charlist ranges, negation, #, " +
    "*/?) executed through the translation match an independent " +
    "matcher") {
    val spark = TestSpark.session
    val r = new scala.util.Random(77113355L)
    // '%' and '_' are PLAIN characters in a Jet pattern (Jet's
    // wildcards are * ? # [..]) but ANSI LIKE wildcards — including
    // them here exercises the literal-%/_ → anchored-RLIKE route the
    // translator takes to keep them literal
    val alpha = "abc012%_"
    sealed trait P
    case object Star extends P
    case object Any1 extends P
    case object Digit extends P
    final case class Lit(c: Char) extends P
    final case class Cls(neg: Boolean, lo: Char, hi: Char,
      extra: Option[Char]) extends P
    def genP(): Seq[P] = Seq.fill(r.nextInt(5) + 1)(r.nextInt(6) match {
      case 0 => Star
      case 1 => Any1
      case 2 => Digit
      case 3 => Lit(alpha(r.nextInt(alpha.length)))
      case 4 =>
        val lo = ('a' + r.nextInt(3)).toChar
        Cls(r.nextBoolean(), lo, 'c', None)
      case _ => Cls(r.nextBoolean(), '0', '2',
        Some(('a' + r.nextInt(3)).toChar))
    })
    def jetText(ps: Seq[P]): String = ps.map {
      case Star => "*"
      case Any1 => "?"
      case Digit => "#"
      case Lit(c) => c.toString
      case Cls(neg, lo, hi, ex) =>
        "[" + (if (neg) "!" else "") + s"$lo-$hi" +
          ex.fold("")(_.toString) + "]"
    }.mkString
    // independent Jet-LIKE semantics: anchored, charwise, recursive
    def matches(ps: Seq[P], s: String): Boolean = ps match {
      case Seq() => s.isEmpty
      case Star +: rest =>
        (0 to s.length).exists(k => matches(rest, s.drop(k)))
      case p +: rest => s.nonEmpty && (p match {
        case Any1 => true
        case Digit => s.head.isDigit
        case Lit(c) => s.head == c
        case Cls(neg, lo, hi, ex) =>
          val in = (s.head >= lo && s.head <= hi) || ex.contains(s.head)
          if (neg) !in else in
        case Star => true
      }) && matches(rest, s.tail)
    }
    def randSubject(): String =
      Seq.fill(r.nextInt(7))(alpha(r.nextInt(alpha.length))).mkString
    val cases = Vector.fill(400) {
      val (ps, subj) = (genP(), randSubject())
      (ps, subj, matches(ps, subj))
    }
    cases.grouped(25).zipWithIndex.foreach { case (batch, bi) =>
      val cols = batch.zipWithIndex.map { case ((ps, subj, _), i) =>
        s"""IIf("$subj" LIKE "${jetText(ps)}", 1, 0) AS c$i"""
      }
      val row = spark.sql(translate("SELECT " + cols.mkString(", ")))
        .collect()(0)
      batch.zipWithIndex.foreach { case ((ps, subj, want), i) =>
        val got = row.getInt(i) == 1
        assert(got == want,
          s"batch $bi col $i: '$subj' LIKE '${jetText(ps)}' → " +
            s"got $got want $want")
      }
    }
  }

  test("40 random TOP n PERCENT queries: the tie-aware windowed " +
    "rewrite matches a direct reference (ceil cutoff, whole boundary " +
    "group included, both directions)") {
    val spark = TestSpark.session
    import spark.implicits._
    val r = new scala.util.Random(9090909L)
    (0 until 40).foreach { k =>
      val n = r.nextInt(40) + 1
      val vs = Seq.fill(n)(r.nextInt(8)) // duplicates force ties
      val pct = r.nextInt(100) + 1
      val desc = r.nextBoolean()
      vs.toDF("v").createOrReplaceTempView("tp_fuzz")
      val dir = if (desc) " DESC" else ""
      val got = spark.sql(translate(
        s"SELECT TOP $pct PERCENT [v] FROM tp_fuzz ORDER BY [v]$dir"))
        .collect().map(_.getInt(0)).sorted.toSeq
      val sorted =
        if (desc) vs.sorted(Ordering[Int].reverse) else vs.sorted
      val cut = math.ceil(n * pct / 100.0).toInt
      // rank(v) = first index of v + 1; Access keeps rank ≤ cut,
      // which pulls in EVERY member of the group straddling the cut
      val want = sorted.filter(v => sorted.indexOf(v) < cut).sorted.toSeq
      assert(got == want, s"case $k n=$n pct=$pct desc=$desc vs=$vs")
    }
  }

  test("60 random whole STATEMENTS (DISTINCT/DISTINCTROW x TOP/TOP " +
    "PERCENT x charlist-LIKE WHERE x UNION x ORDER BY) translate and " +
    "execute to the same multiset as an independent relational " +
    "evaluator — or reject loudly") {
    val spark = TestSpark.session
    import spark.implicits._
    val r = new scala.util.Random(60431188L)
    // base relation: unique id, tied v, small-alphabet s
    val n = 40
    val rows: Seq[(Int, Int, String)] = (1 to n).map { i =>
      (i, r.nextInt(5), Seq.fill(3)("abc01"(r.nextInt(5))).mkString)
    }
    rows.toDF("id", "v", "s").createOrReplaceTempView("stmt_fuzz")
    // Jet-LIKE reference over the tiny alphabet (subset of lane 6:
    // literal / ? / * / # / one charlist)
    def likeMatches(pat: String, s: String): Boolean = {
      def m(pi: Int, si: Int): Boolean =
        if (pi == pat.length) si == s.length
        else pat(pi) match {
          case '*' => (si to s.length).exists(k => m(pi + 1, k))
          case '?' => si < s.length && m(pi + 1, si + 1)
          case '#' => si < s.length && s(si).isDigit && m(pi + 1, si + 1)
          case '[' =>
            val close = pat.indexOf(']', pi + 1)
            val body0 = pat.substring(pi + 1, close)
            val neg = body0.startsWith("!")
            val body = if (neg) body0.tail else body0
            si < s.length && {
              val in =
                if (body.length == 3 && body(1) == '-')
                  s(si) >= body(0) && s(si) <= body(2)
                else body.contains(s(si))
              (in != neg) && m(close + 1, si + 1)
            }
          case c => si < s.length && s(si) == c && m(pi + 1, si + 1)
        }
      m(0, 0)
    }
    val likePats = Seq("a*", "*1*", "?b*", "[a-b]*", "[!a]*", "*#", "a?c")
    (0 until 60).foreach { k =>
      // projected tuple as (String keys) for multiset compare
      val proj: Seq[String] = r.nextInt(3) match {
        case 0 => Seq("v")
        case 1 => Seq("s", "v")
        case _ => Seq("id", "v")
      }
      val prefix = r.nextInt(3) match {
        case 0 => ""
        case 1 => "DISTINCT "
        case _ => "DISTINCTROW " // single table: Access ignores it
      }
      val wherePat =
        if (r.nextBoolean()) Some(likePats(r.nextInt(likePats.length)))
        else None
      val whereSql = wherePat
        .map(p => s""" WHERE [s] LIKE "$p"""").getOrElse("")
      val union = r.nextInt(3) // 0 none, 1 UNION, 2 UNION ALL
      // TOP only without UNION (in-scope TOP+UNION rejects by design)
      val top = if (union == 0) r.nextInt(4) else 0
      val desc = r.nextBoolean()
      // plain TOP over the unique id exercises BOTH translations
      // (declared unique → LIMIT fast path; undeclared → windowed —
      // same rows either way since id cannot tie); TOP over the TIED
      // v and TOP PERCENT must return WHOLE boundary groups
      val declareUnique = r.nextBoolean()
      val (topSql, orderSql) = top match {
        case 1 if proj.contains("id") =>
          val c = r.nextInt(n) + 1
          (s"TOP $c ", s" ORDER BY [id]${if (desc) " DESC" else ""}")
        case 2 =>
          val p = r.nextInt(100) + 1
          (s"TOP $p PERCENT ", s" ORDER BY [v]${if (desc) " DESC" else ""}")
        case 3 if proj.contains("v") =>
          val c = r.nextInt(n) + 1
          (s"TOP $c ", s" ORDER BY [v]${if (desc) " DESC" else ""}")
        case _ => ("", "")
      }
      val selList = proj.map(c => s"[$c]").mkString(", ")
      val sql =
        if (union == 0)
          s"SELECT $prefix$topSql$selList FROM stmt_fuzz$whereSql$orderSql"
        else {
          val u = if (union == 1) "UNION" else "UNION ALL"
          s"SELECT $prefix$selList FROM stmt_fuzz$whereSql $u " +
            s"SELECT $selList FROM stmt_fuzz WHERE [v] > 2"
        }
      // independent evaluation over the Scala rows
      def project(t: (Int, Int, String)): Seq[Any] = proj.map {
        case "id" => t._1
        case "v" => t._2
        case "s" => t._3
      }
      val base0 = rows
        .filter(t => wherePat.forall(p => likeMatches(p, t._3)))
        .map(project)
      val base =
        if (prefix.startsWith("DISTINCT ")) base0.distinct else base0
      val expected: Seq[Seq[Any]] =
        // branch 1 keeps its own DISTINCT under UNION ALL (`base`,
        // not `base0` — the first draft of this lane got that wrong
        // and the ENGINE's answer exposed it)
        if (union == 1) (base ++ rows.filter(_._2 > 2).map(project))
          .distinct
        else if (union == 2) base ++ rows.filter(_._2 > 2).map(project)
        else top match {
          case 1 if topSql.nonEmpty =>
            val c = topSql.trim.split(" ")(1).toInt
            val key = proj.indexOf("id")
            val sorted = base.sortBy(t => t(key).asInstanceOf[Int])
            (if (desc) sorted.reverse else sorted).take(c)
          case 3 if topSql.nonEmpty =>
            // tie-aware plain TOP over the tied v: Access keeps the
            // WHOLE boundary group — rank ≤ c, exactly the PERCENT
            // rule with a row count instead of a percentage
            val c = topSql.trim.split(" ")(1).toInt
            val key = proj.indexOf("v")
            val ord = base.map(t => t(key).asInstanceOf[Int])
            val sorted = if (desc) ord.sorted.reverse else ord.sorted
            if (sorted.isEmpty) Seq.empty
            else {
              val boundary = sorted(math.min(c, sorted.length) - 1)
              base.filter { t =>
                val v = t(key).asInstanceOf[Int]
                if (desc) v >= boundary else v <= boundary
              }
            }
          case 2 =>
            val p = topSql.trim.split(" ")(1).toInt
            val key = proj.indexOf("v")
            val ord = base.map(t => t(key).asInstanceOf[Int])
            val sorted = if (desc) ord.sorted.reverse else ord.sorted
            if (sorted.isEmpty) Seq.empty
            else {
              val cut = math.ceil(sorted.length * p / 100.0).toInt
              val boundary = sorted(cut - 1)
              base.filter { t =>
                val v = t(key).asInstanceOf[Int]
                if (desc) v >= boundary else v <= boundary
              }
            }
          case _ => base
        }
      // id IS unique in the data: declaring it flips the id-ordered
      // TOP onto the LIMIT fast path (same rows — no ties possible);
      // for the v-ordered TOP the declaration doesn't cover the keys
      // and the tie-aware form must still be chosen
      val uk: Map[String, Seq[Set[String]]] =
        if (declareUnique) Map("stmt_fuzz" -> Seq(Set("id")))
        else Map.empty
      val got = spark
        .sql(graft.sources.JetSql.translate(sql, Map.empty, uk))
        .collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val want = expected
        .map(_.map(String.valueOf).mkString("|")).sorted
      assert(got == want, s"case $k:\n  $sql\n  got ${got.size} " +
        s"want ${want.size}\n  got=$got\n  want=$want")
    }
    // the rejection contract holds for the shapes this lane avoids
    intercept[IllegalArgumentException] {
      translate("SELECT TOP 3 [v] FROM stmt_fuzz UNION " +
        "SELECT [v] FROM stmt_fuzz ORDER BY [v]")
    }
  }

  test("60 random tie-aware plain-TOP queries with QUALIFIED, " +
    "NON-PROJECTED, ALIASED, alias-SHADOWING, and EXPRESSION ORDER " +
    "BY keys match an independent tie-aware evaluator (the r11 " +
    "review shapes: every key resolves IN the original scope)") {
    val spark = TestSpark.session
    import spark.implicits._
    val r = new scala.util.Random(71230981L)
    val n = 30
    val rows: Seq[(Int, Int, String)] = (1 to n).map { i =>
      (i, r.nextInt(4), "x" + (i % 7))
    }
    rows.toDF("id", "v", "s").createOrReplaceTempView("tie_fuzz")
    val uk = Map("tie_fuzz" -> Seq(Set("id")))
    (0 until 60).foreach { k =>
      val c = r.nextInt(n) + 1
      val desc = r.nextBoolean()
      val dir = if (desc) " DESC" else ""
      val shape = r.nextInt(6)
      // (sql, projected cols, tie-aware sort key on the SOURCE row,
      // expect the windowed form?) — zero-padded string keys give one
      // comparable ordering for int and string sorts alike
      val (sql, proj, keyFn, windowed) = shape match {
        case 0 => // qualified tied key
          (s"SELECT [id], [v] FROM tie_fuzz ORDER BY tie_fuzz.[v]$dir",
            Seq("id", "v"), (t: (Int, Int, String)) => f"${t._2}%03d",
            true)
        case 1 => // non-projected tied key
          (s"SELECT [id] FROM tie_fuzz ORDER BY [v]$dir",
            Seq("id"), (t: (Int, Int, String)) => f"${t._2}%03d", true)
        case 2 => // ORDER BY select-list alias of the tied v
          (s"SELECT [id], [v] AS w FROM tie_fuzz ORDER BY w$dir",
            Seq("id", "v"), (t: (Int, Int, String)) => f"${t._2}%03d",
            true)
        case 3 => // alias SHADOWING the declared unique key name:
          // Access sorts the tied v, so the LIMIT fast path would cut
          // a tie group — the proof must refuse it
          (s"SELECT [v] AS id FROM tie_fuzz ORDER BY id$dir",
            Seq("v"), (t: (Int, Int, String)) => f"${t._2}%03d", true)
        case 4 => // qualified UNIQUE key: the LIMIT fast path, exact
          (s"SELECT [id], [v] FROM tie_fuzz ORDER BY tie_fuzz.[id]$dir",
            Seq("id", "v"), (t: (Int, Int, String)) => f"${t._1}%03d",
            false)
        case _ => // expression key (ties via the 7-value alphabet)
          (s"SELECT [id], [s] FROM tie_fuzz ORDER BY UCase([s])$dir",
            Seq("id", "s"),
            (t: (Int, Int, String)) => t._3.toUpperCase, true)
      }
      val tr = graft.sources.JetSql.translate(
        s"SELECT TOP $c " + sql.stripPrefix("SELECT "), Map.empty, uk)
      assert(tr.contains("__jet_rk") == windowed, s"case $k: $tr")
      def project(t: (Int, Int, String)): Seq[Any] = proj.map {
        case "id" => t._1
        case "v" => t._2
        case "s" => t._3
      }
      val sortedKeys = {
        val ks = rows.map(keyFn).sorted
        if (desc) ks.reverse else ks
      }
      val expected: Seq[Seq[Any]] =
        if (!windowed) { // unique sort: exact first-c rows
          val sorted = rows.sortBy(keyFn)
          (if (desc) sorted.reverse else sorted).take(c).map(project)
        } else { // whole boundary tie group
          val boundary = sortedKeys(math.min(c, n) - 1)
          rows.filter { t =>
            if (desc) keyFn(t) >= boundary else keyFn(t) <= boundary
          }.map(project)
        }
      val got = spark.sql(tr).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val want = expected
        .map(_.map(String.valueOf).mkString("|")).sorted
      assert(got == want,
        s"case $k:\n  $sql TOP $c\n  $tr\n  got=$got\n  want=$want")
    }
  }

  test("80 random multi-table DISTINCTROW queries: the record-" +
    "identity rewrite (DISTINCT or GROUP BY output+key) executes to " +
    "the same multiset as an independent record-level evaluator — " +
    "or rejects when identity is unprovable") {
    val spark = TestSpark.session
    import spark.implicits._
    val r = new scala.util.Random(77310991L)
    // left table: unique id, TIED attrs a/b (the values DISTINCT
    // would wrongly merge without record identity); right table: fk
    // with duplicate matches and unmatched keys both ways
    val n = 30
    val left: Seq[(Int, Int, String)] =
      (1 to n).map(i => (i, r.nextInt(4), "xy"(r.nextInt(2)).toString))
    val right: Seq[(Int, Int)] =
      (1 to 50).map(_ => (r.nextInt(n + 10) + 1, r.nextInt(3)))
    left.toDF("id", "a", "b").createOrReplaceTempView("dr_l")
    right.toDF("k", "w").createOrReplaceTempView("dr_r")
    (0 until 80).foreach { case0 =>
      val outCols: Seq[String] = r.nextInt(4) match {
        case 0 => Seq("a") // key NOT in output → GROUP BY path
        case 1 => Seq("a", "b") // GROUP BY path, two tied cols
        case 2 => Seq("id", "a") // key in output → DISTINCT path
        case _ => Seq("*") // star → DISTINCT path
      }
      val whereKind = r.nextInt(3)
      val joinForm = r.nextBoolean()
      val fromSql =
        if (joinForm) "dr_l INNER JOIN dr_r ON dr_l.id = dr_r.k"
        else "dr_l, dr_r"
      val conds =
        (if (joinForm) Nil else Seq("dr_l.id = dr_r.k")) ++
          (whereKind match {
            case 1 => Seq("dr_l.a > 1")
            case 2 => Seq("dr_r.w > 0") // filter on the OTHER table
            case _ => Nil
          })
      val whereSql =
        if (conds.isEmpty) "" else " WHERE " + conds.mkString(" AND ")
      val orderSql =
        if (outCols != Seq("*") && r.nextBoolean())
          s" ORDER BY dr_l.${outCols.head}"
        else ""
      val sel = outCols
        .map(c => if (c == "*") "dr_l.*" else s"dr_l.$c").mkString(", ")
      val sql = s"SELECT DISTINCTROW $sel FROM $fromSql$whereSql$orderSql"
      if (r.nextBoolean()) {
        // record identity unprovable without the declared key — even
        // with the key column in the output list
        intercept[IllegalArgumentException] { translate(sql) }
      } else {
        val uk = Map("dr_l" -> Seq(Set("id")))
        // independent record-level evaluation: ONE row per left
        // RECORD that passes its own filter and matches ≥1 right row
        // passing the right-side filter — never merged with another
        // record agreeing on the output columns
        val expected: Seq[Seq[Any]] = left
          .filter(l => whereKind != 1 || l._2 > 1)
          .filter(l => right.exists(rr =>
            rr._1 == l._1 && (whereKind != 2 || rr._2 > 0)))
          .map { l =>
            outCols.flatMap {
              case "*" => Seq[Any](l._1, l._2, l._3)
              case "id" => Seq[Any](l._1)
              case "a" => Seq[Any](l._2)
              case "b" => Seq[Any](l._3)
            }
          }
        val got = spark
          .sql(graft.sources.JetSql.translate(sql, Map.empty, uk))
          .collect()
          .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
        val want = expected
          .map(_.map(String.valueOf).mkString("|")).sorted
        assert(got == want, s"case $case0:\n  $sql\n  got ${got.size} " +
          s"want ${want.size}\n  got=$got\n  want=$want")
      }
    }
  }

  test("500 random expressions: Spark executing the translation " +
    "matches the independent interpreter (seeded)") {
    val spark = TestSpark.session
    val r = new scala.util.Random(20260815L)
    val exprs = (Seq.fill(250)(genInt(r, 3)) ++
      Seq.fill(250)(genStr(r, 3))).toVector
    // batch 25 expressions per SELECT so the fuzz stays fast
    exprs.grouped(25).zipWithIndex.foreach { case (batch, bi) =>
      val cols = batch.zipWithIndex.map { case (e, i) =>
        s"${jet(e, r)} AS c$i" }
      val row = spark.sql(translate("SELECT " + cols.mkString(", ")))
        .collect()(0)
      batch.zipWithIndex.foreach { case (e, i) =>
        val got = norm(row.get(i))
        val want = norm(eval(e))
        assert(got == want,
          s"batch $bi col $i: got $got want $want\n  jet: ${jet(e, r)}")
      }
    }
  }

  test("400 random DatePart(\"ww\")/Weekday/DateDiff(\"ww\") calls " +
    "over EVERY documented firstdayofweek (0-7) and firstweekofyear " +
    "(0-3) anchor (lane 11, r13): week numbering matches an " +
    "independent date-walk reference; non-literal/out-of-range " +
    "anchors reject") {
    import java.time.LocalDate
    import java.time.temporal.ChronoUnit
    val spark = TestSpark.session
    GraftExtensions.register(spark) // ww emits jet_weeknum/jet_weekstart
    val r = new scala.util.Random(41217L)
    def randD(): LocalDate = LocalDate.of(
      2015 + r.nextInt(10), 1 + r.nextInt(12), 1 + r.nextInt(28))
    // year-boundary days are where the anchor rules actually differ —
    // force half the draws into Dec 26..Jan 8
    def randEdgeD(): LocalDate =
      if (r.nextBoolean()) randD()
      else {
        val y = 2015 + r.nextInt(10)
        if (r.nextBoolean()) LocalDate.of(y, 12, 26 + r.nextInt(6))
        else LocalDate.of(y, 1, 1 + r.nextInt(8))
      }
    def jetLit(d: LocalDate): String =
      s"#${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear}#"
    // independent reference, date-WALK style (LocalDate stepping),
    // not the epoch-day floorMod arithmetic JetWeek uses
    def dow1(d: LocalDate): Int = d.getDayOfWeek.getValue % 7 + 1
    def weekStartRef(d: LocalDate, f: Int): LocalDate = {
      var x = d
      while (dow1(x) != f) x = x.minusDays(1)
      x
    }
    def week1StartRef(y: Int, f: Int, w: Int): LocalDate = {
      val j = LocalDate.of(y, 1, 1)
      val ws = weekStartRef(j, f)
      w match {
        case 1 => ws
        case 2 => if (ChronoUnit.DAYS.between(ws, j) <= 3) ws
          else ws.plusWeeks(1)
        case _ => if (ws == j) j else ws.plusWeeks(1)
      }
    }
    def refWw(d: LocalDate, f0: Int, w0: Int): Long = {
      val f = if (f0 == 0) 1 else f0
      val w = if (w0 == 0) 1 else w0
      val w1 = week1StartRef(d.getYear, f, w)
      val a = if (!d.isBefore(w1)) w1
        else week1StartRef(d.getYear - 1, f, w)
      ChronoUnit.DAYS.between(a, d) / 7 + 1
    }
    def refWd(d: LocalDate, f0: Int): Int = {
      val f = if (f0 == 0) 1 else f0
      Math.floorMod(dow1(d) - f, 7) + 1
    }
    def fdow(): Int = r.nextInt(8)   // 0..7
    def fwoy(): Int = r.nextInt(4)   // 0..3
    val built = Vector.fill(400) {
      val d = randEdgeD()
      r.nextInt(4) match {
        case 0 => // bare-default spellings keep their own lane
          (s"DatePart(\"ww\", ${jetLit(d)})", refWw(d, 1, 1).toString)
        case 1 =>
          val (f, w) = (fdow(), fwoy())
          (s"DatePart(\"ww\", ${jetLit(d)}, $f, $w)",
            refWw(d, f, w).toString)
        case 2 =>
          val f = fdow()
          if (r.nextBoolean())
            (s"Weekday(${jetLit(d)}, $f)", refWd(d, f).toString)
          else
            (s"DatePart(\"w\", ${jetLit(d)}, $f, ${fwoy()})",
              refWd(d, f).toString)
        case _ => // DateDiff ww: fdow shifts the counted boundary;
          // fwoy is accepted and ignored (VB semantics)
          val b = randEdgeD()
          val f = fdow()
          val ff = if (f == 0) 1 else f
          val diff = ChronoUnit.DAYS.between(
            weekStartRef(d, ff), weekStartRef(b, ff)) / 7
          val tail = if (r.nextBoolean()) s", $f" else s", $f, ${fwoy()}"
          (s"DateDiff(\"ww\", ${jetLit(d)}, ${jetLit(b)}$tail)",
            diff.toString)
      }
    }
    built.grouped(25).zipWithIndex.foreach { case (batch, bi) =>
      val row = spark.sql(translate("SELECT " +
        batch.zipWithIndex.map { case ((j, _), i) => s"$j AS c$i" }
          .mkString(", "))).collect()(0)
      batch.zipWithIndex.foreach { case ((j, want), i) =>
        val got = Option(row.get(i)).map(_.toString).orNull
        assert(got == want, s"batch $bi col $i: got $got want $want\n  $j")
      }
    }
    // non-literal or out-of-range anchors still reject, loudly
    for (bad <- Seq(
      "SELECT DatePart(\"ww\", #1/5/2020#, 8)",
      "SELECT DatePart(\"ww\", #1/5/2020#, 1, 4)",
      "SELECT Weekday(#1/5/2020#, [k])",
      "SELECT DateDiff(\"ww\", #1/1/2020#, #2/1/2020#, 1 + 1)")) {
      val e = intercept[IllegalArgumentException] { translate(bad) }
      assert(e.getMessage.toLowerCase.contains("literal") ||
        e.getMessage.toLowerCase.contains("outside"), e.getMessage)
    }
  }

  test("300 random 4-arg InStr and numeric Format masks (lane 12, " +
    "r12): binary/text compare and mask rendering match independent " +
    "references; quirky masks still reject") {
    val spark = TestSpark.session
    val r = new scala.util.Random(90412L)
    def randS(): String = Seq.fill(r.nextInt(7) + 1)(
      "aAbBcC xyZ"(r.nextInt(10))).mkString
    def lit(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""
    // independent grouping reference: BigDecimal-of-SHORTEST-REPR
    // HALF_UP + manual 3-digit comma insertion (not DecimalFormat,
    // not String.format). valueOf, not new BigDecimal(x): Java's %f
    // rounds on the double's shortest decimal representation (the
    // FormattedFloatingDecimal digits), not its exact binary
    // expansion — 1.005 renders "1.01" even though the exact
    // expansion sits just below the tie.
    def refNum(x: Double, d: Int, group: Boolean): String = {
      val s = java.math.BigDecimal.valueOf(x)
        .setScale(d, java.math.RoundingMode.HALF_UP).toPlainString
      if (!group) s
      else {
        val neg = s.startsWith("-")
        val body = if (neg) s.substring(1) else s
        val dot = body.indexOf('.')
        val ip = if (dot < 0) body else body.substring(0, dot)
        val fp = if (dot < 0) "" else body.substring(dot)
        val grouped = ip.reverse.grouped(3).mkString(",").reverse
        (if (neg) "-" else "") + grouped + fp
      }
    }
    // Both mask families render through ONE %f pass (HALF_UP on the
    // shortest decimal repr — r12 review replaced format_number,
    // whose HALF_EVEN DecimalFormat default broke exact ties), and
    // refNum is shortest-repr HALF_UP too, so the generator needs
    // NO tie avoidance: any digit 1-9 at the rounding position —
    // including 5 — and explicit exact-binary ties (odd/2^(d+1):
    // x.5 at d=0, x.25/x.75 at d=1, x.125… at d=2) are all fair.
    def tieFrac(r0: scala.util.Random, d: Int): Double = {
      val den = 1 << (d + 1)
      (2 * r0.nextInt(1 << d) + 1).toDouble / den
    }
    val built = Vector.fill(300) {
      r.nextInt(4) match {
        case 0 => // InStr compare 0 (binary) / 1 (text)
          val s = randS()
          val nee = randS().take(r.nextInt(2) + 1)
          val st = r.nextInt(s.length) + 1
          if (r.nextBoolean())
            (s"InStr($st, ${lit(s)}, ${lit(nee)}, 0)",
              (s.indexOf(nee, st - 1) + 1).toString)
          else
            (s"InStr($st, ${lit(s)}, ${lit(nee)}, 1)",
              (s.toLowerCase.indexOf(nee.toLowerCase, st - 1) + 1)
                .toString)
        case 1 => // plain 0-masks: fixed decimals, no grouping
          val d = r.nextInt(4)
          val scale = math.pow(10, d)
          val base = (r.nextInt(2000000) + math.max(1, scale.toInt)) /
            scale
          val extra = r.nextInt(9) + 1
          val x = (if (r.nextBoolean()) 1 else -1) *
            (base + extra / (scale * 10))
          val mask = if (d == 0) "0" else "0." + "0" * d
          (s"Format($x, ${lit(mask)})", refNum(x, d, group = false))
        case 2 => // grouped #,##0 masks — d up to 5: the r12 grouping
          // regex's `($|\.)` alternation inserted commas INTO the
          // fraction once its length hit a multiple of 3
          // (Format(1234.5678, "#,##0.0000") → "1,234.5,678" — r13
          // ADVICE), a shape d<=2 can never generate
          val d = r.nextInt(6)
          val scale = math.pow(10, d)
          val ip = r.nextInt(2000000) + 100000
          val extra = r.nextInt(math.max(1, scale.toInt - 1)) + 1
          val x = (if (r.nextBoolean()) 1 else -1) *
            (ip + extra / scale)
          val mask = if (d == 0) "#,##0" else "#,##0." + "0" * d
          (s"Format($x, ${lit(mask)})", refNum(x, d, group = true))
        case _ => // EXACT binary ties: round half away from zero
          val d = r.nextInt(3)
          val group = r.nextBoolean()
          val mag = (if (group) r.nextInt(2000000) + 1000
            else r.nextInt(5000) + 1) + tieFrac(r, d)
          val x = (if (r.nextBoolean()) 1 else -1) * mag
          val mask = (if (group) "#,##0" else "0") +
            (if (d == 0) "" else "." + "0" * d)
          (s"Format($x, ${lit(mask)})", refNum(x, d, group))
      }
    }
    built.grouped(25).zipWithIndex.foreach { case (batch, bi) =>
      val row = spark.sql(translate("SELECT " +
        batch.zipWithIndex.map { case ((j, _), i) => s"$j AS c$i" }
          .mkString(", "))).collect()(0)
      batch.zipWithIndex.foreach { case ((j, want), i) =>
        val got = Option(row.get(i)).map(_.toString).orNull
        assert(got == want, s"batch $bi col $i: got $got want $want\n  $j")
      }
    }
    // pinned ADVICE-r13 reproducer: a 4-decimal grouped mask must not
    // comma-split the fraction ("1,234.5,678")
    assert(spark.sql(translate(
      "SELECT Format(1234.5678, \"#,##0.0000\") AS c"))
      .collect()(0).getString(0) == "1,234.5678")
    // the quirky corners stay loud rejections
    for (bad <- Seq(
      "SELECT Format(0.5, \"#.##\")",   // trailing-zero trimming
      "SELECT Format(0, \"#\")",        // empty-zero quirk
      "SELECT Format(3, \"000\")",      // zero-pad width vs sign
      "SELECT Format(0.5, \"#%\")",     // bare-# core still quirky
      "SELECT InStr(1, \"a\", \"A\", 2)", // database compare
      "SELECT InStr(1, \"a\", \"A\", -1)")) { // option compare
      val e = intercept[IllegalArgumentException] { translate(bad) }
      assert(e.getMessage.nonEmpty)
    }
  }

  test("300 random date Format masks incl. month/day names, AM/PM " +
    "12-hour flip, and m-after-h minutes (lane 13, r13): rendering " +
    "matches a FIELD-LEVEL reference (name tables + arithmetic, no " +
    "formatter library); case-variant AM/PM still rejects") {
    import java.time.LocalDateTime
    val spark = TestSpark.session
    val r = new scala.util.Random(130713L)
    // field-level en-US reference: renders each component straight
    // from the integer fields and these name tables — shares no code
    // with java.time's formatter OR the translator's pattern mapping
    val moAbbr = Vector("Jan", "Feb", "Mar", "Apr", "May", "Jun",
      "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
    val moFull = Vector("January", "February", "March", "April",
      "May", "June", "July", "August", "September", "October",
      "November", "December")
    val dayAbbr = Vector("Sun", "Mon", "Tue", "Wed", "Thu", "Fri",
      "Sat")
    val dayFull = Vector("Sunday", "Monday", "Tuesday", "Wednesday",
      "Thursday", "Friday", "Saturday")
    def randT(): LocalDateTime = LocalDateTime.of(
      2015 + r.nextInt(10), 1 + r.nextInt(12), 1 + r.nextInt(28),
      r.nextInt(24), r.nextInt(60), r.nextInt(60))
    def jetLit(t: LocalDateTime): String =
      s"#${t.getMonthValue}/${t.getDayOfMonth}/${t.getYear} " +
        s"${t.getHour}:${t.getMinute}:${t.getSecond}#"
    def p2(v: Int): String = f"$v%02d"
    // component pool: (jet run, render(t, amPm))
    val comps: Vector[(String, (LocalDateTime, Boolean) => String)] =
      Vector(
        ("yyyy", (t, _) => t.getYear.toString),
        ("yy", (t, _) => p2(t.getYear % 100)),
        ("q", (t, _) => ((t.getMonthValue + 2) / 3).toString),
        ("m", (t, _) => t.getMonthValue.toString),
        ("mm", (t, _) => p2(t.getMonthValue)),
        ("mmm", (t, _) => moAbbr(t.getMonthValue - 1)),
        ("mmmm", (t, _) => moFull(t.getMonthValue - 1)),
        ("d", (t, _) => t.getDayOfMonth.toString),
        ("dd", (t, _) => p2(t.getDayOfMonth)),
        ("ddd", (t, _) => dayAbbr(t.getDayOfWeek.getValue % 7)),
        ("dddd", (t, _) => dayFull(t.getDayOfWeek.getValue % 7)),
        ("h", (t, am) => (if (am) (t.getHour + 11) % 12 + 1
          else t.getHour).toString),
        ("hh", (t, am) => p2(if (am) (t.getHour + 11) % 12 + 1
          else t.getHour)),
        ("n", (t, _) => t.getMinute.toString),
        ("nn", (t, _) => p2(t.getMinute)),
        ("s", (t, _) => t.getSecond.toString),
        ("ss", (t, _) => p2(t.getSecond)))
    val seps = Vector("-", "/", ":", ".", " ", ", ")
    val built = Vector.fill(300) {
      val t = randT()
      val n = 2 + r.nextInt(4)
      var picks = Vector.fill(n)(comps(r.nextInt(comps.length)))
      // half the masks with an hour run gain an AM/PM marker
      val hasH = picks.exists(_._1.startsWith("h"))
      val withAmPm = hasH && r.nextBoolean()
      if (withAmPm)
        picks = picks :+ (("AM/PM",
          (u: LocalDateTime, _: Boolean) =>
            if (u.getHour < 12) "AM" else "PM"))
      val sep = seps(r.nextInt(seps.length))
      val mask = picks.map(_._1).mkString(sep)
      // Jet context rule in the REFERENCE too: an m/mm run directly
      // after an h-run renders minutes (separators don't reset)
      val parts = picks.zipWithIndex.map { case ((runTxt, f), k) =>
        val prevH = k > 0 && picks(k - 1)._1.startsWith("h")
        if (prevH && runTxt == "m") t.getMinute.toString
        else if (prevH && runTxt == "mm") p2(t.getMinute)
        else f(t, withAmPm)
      }
      (s"Format(${jetLit(t)}, \"$mask\")", parts.mkString(sep))
    }
    built.grouped(25).zipWithIndex.foreach { case (batch, bi) =>
      val row = spark.sql(translate("SELECT " +
        batch.zipWithIndex.map { case ((j, _), i) => s"$j AS c$i" }
          .mkString(", "))).collect()(0)
      batch.zipWithIndex.foreach { case ((j, want), i) =>
        val got = Option(row.get(i)).map(_.toString).orNull
        assert(got == want, s"batch $bi col $i: got $got want $want\n  $j")
      }
    }
    for (bad <- Seq(
      "SELECT Format(#1/5/2020#, \"h:nn am/pm\")", // lowercase render
      "SELECT Format(#1/5/2020#, \"A/P\")",        // single-letter
      "SELECT Format(#1/5/2020#, \"mmmmm\")")) {   // 5-run
      val e = intercept[IllegalArgumentException] { translate(bad) }
      assert(e.getMessage.nonEmpty)
    }
  }

  test("300 random NAMED formats and multi-section masks (lane 14, " +
    "r14): Currency/Fixed/Standard/Percent/Scientific, named date/" +
    "time formats, and pos;neg;zero;null sections match an " +
    "independent renderer") {
    val spark = TestSpark.session
    val r = new scala.util.Random(140814L)
    // independent numeric reference (lane 12's model): BigDecimal of
    // the SHORTEST decimal repr, HALF_UP, manual comma grouping.
    // One addition over lane 12 (whose generator kept |x| >= 1): a
    // NEGATIVE value whose digits round to zero keeps its sign —
    // "%.0f" of -0.3 is "-0", the documented one-%f-pass model
    // (java.text.DecimalFormat agrees), and the sign is what routes
    // it to a multi-section mask's NEGATIVE section.
    def refNum(x: Double, d: Int, group: Boolean): String = {
      val s0 = java.math.BigDecimal.valueOf(x)
        .setScale(d, java.math.RoundingMode.HALF_UP).toPlainString
      val s = if (x < 0 && !s0.startsWith("-")) "-" + s0 else s0
      if (!group) s
      else {
        val neg = s.startsWith("-")
        val body = if (neg) s.substring(1) else s
        val dot = body.indexOf('.')
        val ip = if (dot < 0) body else body.substring(0, dot)
        val fp = if (dot < 0) "" else body.substring(dot)
        val grouped = ip.reverse.grouped(3).mkString(",").reverse
        (if (neg) "-" else "") + grouped + fp
      }
    }
    // independent Scientific reference: 3 significant digits HALF_UP
    // on the shortest repr, VB's 0.00E+00 shape — shares nothing
    // with Java Formatter's %E path
    def refSci(x: Double): String =
      if (x == 0.0) "0.00E+00"
      else {
        val bd = java.math.BigDecimal.valueOf(math.abs(x)).round(
          new java.math.MathContext(3, java.math.RoundingMode.HALF_UP))
        val exp = bd.precision - bd.scale - 1
        val mant = bd.movePointLeft(exp)
          .setScale(2, java.math.RoundingMode.UNNECESSARY)
        (if (x < 0) "-" else "") + mant.toPlainString +
          "E" + (if (exp < 0) "-" else "+") + f"${math.abs(exp)}%02d"
      }
    def randX(): Double = {
      val mag = r.nextInt(4) match {
        case 0 => r.nextDouble() // < 1
        case 1 => r.nextInt(1000) + r.nextDouble()
        case 2 => r.nextInt(2000000) + r.nextDouble()
        case _ => (r.nextInt(9) + 1) * math.pow(10.0, -r.nextInt(4) - 1)
      }
      (if (r.nextBoolean()) 1 else -1) * mag
    }
    def jetNum(x: Double): String = {
      // Jet has no unary-minus literal ambiguity worry via (0 - x)
      val s = java.math.BigDecimal.valueOf(math.abs(x)).toPlainString
      if (x < 0) s"(0 - $s)" else s
    }
    val moFull = Vector("January", "February", "March", "April",
      "May", "June", "July", "August", "September", "October",
      "November", "December")
    val moAbbr = moFull.map(_.take(3))
    val dayFull = Vector("Sunday", "Monday", "Tuesday", "Wednesday",
      "Thursday", "Friday", "Saturday")
    def randT(): java.time.LocalDateTime = java.time.LocalDateTime.of(
      1950 + r.nextInt(86), 1 + r.nextInt(12), 1 + r.nextInt(28),
      r.nextInt(24), r.nextInt(60), r.nextInt(60))
    def jetLit(t: java.time.LocalDateTime): String =
      s"#${t.getMonthValue}/${t.getDayOfMonth}/${t.getYear} " +
        s"${t.getHour}:${t.getMinute}:${t.getSecond}#"
    def p2(v: Int): String = f"$v%02d"
    def h12(h: Int): Int = (h + 11) % 12 + 1
    def ampm(h: Int): String = if (h < 12) "AM" else "PM"
    // named date/time references from INTEGER fields + name tables
    def refNamedDate(name: String, t: java.time.LocalDateTime)
        : String = name match {
      case "Short Date" =>
        s"${t.getMonthValue}/${t.getDayOfMonth}/${t.getYear}"
      case "Long Date" =>
        s"${dayFull(t.getDayOfWeek.getValue % 7)}, " +
          s"${moFull(t.getMonthValue - 1)} ${t.getDayOfMonth}, " +
          s"${t.getYear}"
      case "Medium Date" =>
        s"${p2(t.getDayOfMonth)}-${moAbbr(t.getMonthValue - 1)}-" +
          p2(t.getYear % 100)
      case "Short Time" => s"${p2(t.getHour)}:${p2(t.getMinute)}"
      case "Long Time" =>
        s"${h12(t.getHour)}:${p2(t.getMinute)}:${p2(t.getSecond)} " +
          ampm(t.getHour)
      case "Medium Time" =>
        s"${p2(h12(t.getHour))}:${p2(t.getMinute)} " + ampm(t.getHour)
      case "General Date" =>
        val date = s"${t.getMonthValue}/${t.getDayOfMonth}/${t.getYear}"
        val time = s"${h12(t.getHour)}:${p2(t.getMinute)}:" +
          s"${p2(t.getSecond)} " + ampm(t.getHour)
        if (t.getHour == 0 && t.getMinute == 0 && t.getSecond == 0)
          date
        else date + " " + time
    }
    val dateNames = Vector("Short Date", "Long Date", "Medium Date",
      "Short Time", "Long Time", "Medium Time", "General Date")
    // section reference implementing VB's documented dispatch,
    // independently of the emitted CASE
    def refSection(x: Double, sec: String): String = {
      val first = sec.indexWhere(c => c == '0' || c == '#')
      val last = sec.lastIndexWhere(c => c == '0' || c == '#')
      val core = sec.substring(first, last + 1)
      val pre = sec.substring(0, first)
      val suf = sec.substring(last + 1)
      val pct = (pre + suf).count(_ == '%')
      val d = if (core.contains('.')) core.length - core.indexOf('.') - 1
        else 0
      pre + refNum(x * math.pow(100.0, pct), d,
        core.startsWith("#,##")) + suf
    }
    def refSectioned(x: Double, mask: String): String = {
      val secs = mask.split(";", -1).toSeq
      def pure(s: String) =
        s.nonEmpty && s.forall("$()+- %".contains(_))
      if (secs.length == 2) {
        if (x < 0) {
          if (secs(1).isEmpty) refSection(x, secs(0))
          else if (pure(secs(1))) secs(1)
          else refSection(math.abs(x), secs(1))
        } else refSection(x, secs(0))
      } else {
        if (x > 0) refSection(x, secs(0))
        else if (x < 0) {
          if (secs(1).isEmpty) refSection(x, secs(0))
          else if (pure(secs(1))) secs(1)
          else refSection(math.abs(x), secs(1))
        } else {
          if (secs(2).isEmpty) refSection(x, secs(0))
          else if (pure(secs(2))) secs(2)
          else refSection(x, secs(2))
        }
      }
    }
    def lit(s: String): String = "\"" + s + "\""
    // quoted-affix pools (r14.1): the GENERATOR carries the literal
    // text, so the expectation needs no mask parsing at all — the
    // most independent reference possible. ';' inside a quoted run
    // also exercises the quote-aware section splitter.
    val quotedPre = Vector("", "\"p re \"", "\"$\"", "\"x;y \"")
    val quotedSuf = Vector("\" kg\"", "\"%\"", "\" a;b\"", "\"!\"")
    val built = Vector.fill(300) {
      r.nextInt(5) match {
        case 4 => // quoted literal affixes around a plain core
          val x = randX()
          val d = r.nextInt(3)
          val group = r.nextBoolean()
          val core = (if (group) "#,##0" else "0") +
            (if (d == 0) "" else "." + "0" * d)
          val pre = quotedPre(r.nextInt(quotedPre.length))
          val suf = quotedSuf(r.nextInt(quotedSuf.length))
          val mask = pre + core + suf
          // Jet string literal: internal quotes double
          val jetMask = "\"" + mask.replace("\"", "\"\"") + "\""
          def unq(s: String) = s.stripPrefix("\"").stripSuffix("\"")
          (s"Format(${jetNum(x)}, $jetMask)",
            unq(pre) + refNum(x, d, group) + unq(suf))
        case 0 => // named numeric
          val x = randX()
          r.nextInt(5) match {
            case 0 =>
              (s"Format(${jetNum(x)}, ${lit("Currency")})",
                if (x < 0) "($" + refNum(-x, 2, group = true) + ")"
                else "$" + refNum(x, 2, group = true))
            case 1 =>
              (s"Format(${jetNum(x)}, ${lit("Fixed")})",
                refNum(x, 2, group = false))
            case 2 =>
              (s"Format(${jetNum(x)}, ${lit("Standard")})",
                refNum(x, 2, group = true))
            case 3 =>
              (s"Format(${jetNum(x)}, ${lit("Percent")})",
                refNum(x * 100.0, 2, group = false) + "%")
            case _ =>
              (s"Format(${jetNum(x)}, ${lit("Scientific")})",
                refSci(x))
          }
        case 1 => // Yes/No family + named dates
          if (r.nextBoolean()) {
            val v = r.nextInt(5) - 2
            val vLit = if (v < 0) s"(0 - ${-v})" else v.toString
            val (n0, yes, no) = Vector(
              ("Yes/No", "Yes", "No"),
              ("True/False", "True", "False"),
              ("On/Off", "On", "Off"))(r.nextInt(3))
            (s"Format($vLit, ${lit(n0)})", if (v == 0) no else yes)
          } else {
            val t = randT()
            val name = dateNames(r.nextInt(dateNames.length))
            (s"Format(${jetLit(t)}, ${lit(name)})",
              refNamedDate(name, t))
          }
        case 2 => // multi-section masks
          val x = randX()
          val d = r.nextInt(3)
          val core = (if (r.nextBoolean()) "#,##0" else "0") +
            (if (d == 0) "" else "." + "0" * d)
          val mask = r.nextInt(4) match {
            case 0 => s"$$$core;($$$core)" // accounting
            case 1 => s"$core;-$core;0"
            case 2 => s"$core;" // empty neg -> pos, signed
            case _ => s"$core;($core);-;- " // literal zero + null
          }
          (s"Format(${jetNum(x)}, ${lit(mask)})",
            refSectioned(x, mask))
        case _ => // single-section affixes incl. % scaling
          val x = randX()
          val d = r.nextInt(3)
          val core = (if (r.nextBoolean()) "#,##0" else "0") +
            (if (d == 0) "" else "." + "0" * d)
          val (pre, suf) = Vector(
            ("$", ""), ("", "%"), ("$", " "), ("", ""), ("- ", ""))(
            r.nextInt(5))
          val mask = pre + core + suf
          (s"Format(${jetNum(x)}, ${lit(mask)})",
            refSection(x, mask))
      }
    }
    built.grouped(25).zipWithIndex.foreach { case (batch, bi) =>
      val row = spark.sql(translate("SELECT " +
        batch.zipWithIndex.map { case ((j, _), i) => s"$j AS c$i" }
          .mkString(", "))).collect()(0)
      batch.zipWithIndex.foreach { case ((j, want), i) =>
        val got = Option(row.get(i)).map(_.toString).orNull
        assert(got == want, s"batch $bi col $i: got $got want $want\n  $j")
      }
    }
    // the still-out corners stay loud rejections
    for (bad <- Seq(
      "SELECT Format(1.5, \"General Number\")",
      "SELECT Format(1.5, \"0.00;x\")",    // affix outside charset
      "SELECT Format(1.5, \"0;0;0;0;0\")", // five sections
      "SELECT Format(1.5, \"@;@\")")) {    // text masks
      val e = intercept[IllegalArgumentException] { translate(bad) }
      assert(e.getMessage.nonEmpty)
    }
  }

  test("400 random VBA function calls (lane 15, r14): Val's " +
    "strip-and-parse vs an independent character walker, Round vs " +
    "exact-decimal HALF_EVEN, DateSerial/TimeSerial vs direct " +
    "java.time arithmetic with the century pivot, Hex vs " +
    "toHexString, MonthName/WeekdayName vs hardcoded name tables") {
    val spark = TestSpark.session
    val r = new scala.util.Random(150815L)
    def lit(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

    // independent VB Val: a character walker over the space-stripped
    // string (the translation is a regexp_extract — shares nothing
    // structurally with this scanner)
    def vbVal(s0: String): Double = {
      val s = s0.filterNot(c =>
        c == ' ' || c == '\t' || c == '\n' || c == '\r')
      var i = 0; val n = s.length
      val sb = new StringBuilder
      if (i < n && (s(i) == '+' || s(i) == '-')) { sb += s(i); i += 1 }
      var digits = 0
      while (i < n && s(i).isDigit) { sb += s(i); i += 1; digits += 1 }
      if (i < n && s(i) == '.') {
        val fb = new StringBuilder(".")
        var j = i + 1
        while (j < n && s(j).isDigit) { fb += s(j); j += 1 }
        if (digits > 0 || fb.length > 1) {
          sb ++= fb; i = j; digits += fb.length - 1
        }
      }
      if (digits == 0) return 0.0
      if (i < n && "eEdD".contains(s(i))) {
        var j = i + 1; var sign = ""
        if (j < n && (s(j) == '+' || s(j) == '-')) {
          sign = s(j).toString; j += 1
        }
        val eb = new StringBuilder
        while (j < n && s(j).isDigit) { eb += s(j); j += 1 }
        if (eb.nonEmpty) sb ++= ("e" + sign + eb)
      }
      sb.toString.toDouble
    }
    val valAlphabet = "0123456789012345 .+-eEdDxZ," // digit-heavy
    def randValStr(): String = {
      val s = Seq.fill(r.nextInt(10) + 1)(
        valAlphabet(r.nextInt(valAlphabet.length))).mkString
      if (s.startsWith("&")) "x" + s else s
    }

    val months = Vector("January", "February", "March", "April",
      "May", "June", "July", "August", "September", "October",
      "November", "December")
    val days = Vector("Sunday", "Monday", "Tuesday", "Wednesday",
      "Thursday", "Friday", "Saturday")
    def pivot(y: Int): Int =
      if (y >= 0 && y <= 29) y + 2000
      else if (y >= 30 && y <= 99) y + 1900 else y

    // textOrder lane rides the same batches through a second
    // translate mode — collected separately below
    val textOrderCases = Vector.newBuilder[(String, String)]
    def randCased(): String = Seq.fill(r.nextInt(5) + 1)(
      "aAbBcC"(r.nextInt(6))).mkString
    for (_ <- 1 to 120) {
      val a = randCased()
      val b = if (r.nextBoolean()) randCased()
        else (if (r.nextBoolean()) a.toLowerCase else a.toUpperCase)
      r.nextInt(3) match {
        case 0 =>
          textOrderCases += ((s"IIF(${lit(a)} = ${lit(b)}, 1, 0)",
            (if (a.equalsIgnoreCase(b)) 1 else 0).toString))
        case 1 =>
          textOrderCases += ((s"IIF(${lit(a)} <> ${lit(b)}, 1, 0)",
            (if (a.equalsIgnoreCase(b)) 0 else 1).toString))
        case _ => // LIKE prefix pattern
          val plen = r.nextInt(a.length) + 1
          val pat = a.take(plen) + "*"
          val s0 = b
          textOrderCases += ((s"IIF(${lit(s0)} LIKE ${lit(pat)}, 1, 0)",
            (if (s0.toLowerCase.startsWith(
              a.take(plen).toLowerCase)) 1 else 0).toString))
      }
    }

    val built = Vector.fill(400) {
      r.nextInt(9) match {
        case 0 => // Val
          val s = randValStr()
          (s"Val(${lit(s)})", vbVal(s).toString)
        case 8 => // ^ exponent and \ integer division
          if (r.nextBoolean()) {
            val a = r.nextInt(19) - 9
            val b = r.nextInt(6)
            val aJet = if (a < 0) s"(0 - ${-a})" else a.toString
            (s"$aJet ^ $b", math.pow(a, b).toString)
          } else {
            // halves are exact ties: banker's-round, then truncate
            val k = r.nextInt(81) - 40
            val y = (r.nextInt(9) + 1) * (if (r.nextBoolean()) 1 else -1)
            val xLit = java.math.BigDecimal.valueOf(k.toLong, 1)
              .multiply(java.math.BigDecimal.valueOf(5))
              .stripTrailingZeros.toPlainString // k/2 as exact decimal
            val xJet = if (xLit.startsWith("-"))
              s"(0 - ${xLit.substring(1)})" else xLit
            val yJet = if (y < 0) s"(0 - ${-y})" else y.toString
            val bx = new java.math.BigDecimal(xLit)
              .setScale(0, java.math.RoundingMode.HALF_EVEN)
              .longValueExact
            (s"$xJet \\ $yJet", (bx / y).toString)
          }
        case 7 => // InStrRev / StrComp vs direct String ops
          def randAscii(): String = Seq.fill(r.nextInt(8) + 1)(
            "aAbBc x"(r.nextInt(7))).mkString
          if (r.nextBoolean()) {
            val s = randAscii()
            val m = randAscii().take(r.nextInt(2) + 1)
            if (r.nextBoolean())
              (s"InStrRev(${lit(s)}, ${lit(m)})",
                (s.lastIndexOf(m) + 1).toString)
            else // text mode: case-insensitive, original positions
              (s"InStrRev(${lit(s)}, ${lit(m)}, -1, 1)",
                (s.toLowerCase.lastIndexOf(m.toLowerCase) + 1)
                  .toString)
          } else {
            val a = randAscii()
            val b = randAscii()
            if (r.nextBoolean())
              (s"StrComp(${lit(a)}, ${lit(b)})",
                Integer.signum(a.compareTo(b)).toString)
            else
              (s"StrComp(${lit(a)}, ${lit(b)}, 1)",
                Integer.signum(
                  a.toLowerCase.compareTo(b.toLowerCase)).toString)
          }
        case 6 => // CDate on OLE serials: |fraction| is time-of-day
          // regardless of sign; 1/100-day grid keeps the literal
          // decimal-exact so the micros arithmetic has no residue
          val days = r.nextInt(40001) - 20000
          val m = r.nextInt(100)
          // 864·m seconds = m/100 day: a 2-decimal exact literal
          val x = java.math.BigDecimal.valueOf(days).add(
            java.math.BigDecimal.valueOf(
              (if (days < 0) -m else m).toLong, 2))
          val want = java.sql.Timestamp.valueOf(
            java.time.LocalDateTime.of(1899, 12, 30, 0, 0, 0)
              .plusDays(days.toLong).plusSeconds(864L * m)).toString
          val litX = x.toPlainString
          (if (litX.startsWith("-"))
            s"CDate((0 - ${litX.substring(1)}))"
          else s"CDate($litX)", want)
        case 1 => // Round on an exact decimal literal, k >= d digits
          val d = r.nextInt(4)
          val k = d + r.nextInt(4 - d + 1).min(4 - d)
          val kk = math.max(d, k)
          val ip = r.nextInt(100000).toString
          val frac = if (kk == 0) ""
            else "." + Seq.fill(kk)(r.nextInt(10)).mkString
          val neg = r.nextBoolean()
          val litNum = ip + frac
          val jet = (if (neg) s"(0 - $litNum)" else litNum) +
            (if (d == 0 && r.nextBoolean()) "" else s", $d")
          val signed = new java.math.BigDecimal(
            (if (neg) "-" else "") + litNum)
          val want = signed
            .setScale(d, java.math.RoundingMode.HALF_EVEN)
            .toPlainString
          // -0.4 rounds to "0" both ways: BigDecimal has no -0
          (s"Round($jet)", want)
        case 2 => // DateSerial with pivot + rollover
          val y = if (r.nextBoolean()) r.nextInt(100)
            else r.nextInt(1200) + 1000
          val m = r.nextInt(40) - 12
          val d = r.nextInt(120) - 31
          val want = java.time.LocalDate.of(pivot(y), 1, 1)
            .plusMonths(m - 1L).plusDays(d - 1L).toString
          (s"DateSerial($y, $m, $d)", want)
        case 3 => // TimeSerial rollover incl. negatives
          val h = r.nextInt(97) - 48
          val mi = r.nextInt(401) - 200
          val sec = r.nextInt(401) - 200
          val want = java.sql.Timestamp.valueOf(
            java.time.LocalDateTime.of(1899, 12, 30, 0, 0, 0)
              .plusHours(h).plusMinutes(mi).plusSeconds(sec)).toString
          (s"TimeSerial($h, $mi, $sec)", want)
        case 4 => // Hex of non-negative ints (ties pinned in the spec)
          val v = r.nextInt(Int.MaxValue)
          (s"Hex($v)",
            java.lang.Long.toHexString(v.toLong).toUpperCase)
        case _ => // MonthName/WeekdayName vs the hardcoded tables
          if (r.nextBoolean()) {
            val m = r.nextInt(12) + 1
            val ab = r.nextBoolean()
            (s"MonthName($m${if (ab) ", True" else ""})",
              if (ab) months(m - 1).take(3) else months(m - 1))
          } else {
            val n = r.nextInt(7) + 1
            val ab = r.nextBoolean()
            (s"WeekdayName($n${if (ab) ", True" else ""})",
              if (ab) days(n - 1).take(3) else days(n - 1))
          }
      }
    }
    built.grouped(25).zipWithIndex.foreach { case (batch, bi) =>
      val row = spark.sql(translate("SELECT " +
        batch.zipWithIndex.map { case ((j, _), i) => s"$j AS c$i" }
          .mkString(", "))).collect()(0)
      batch.zipWithIndex.foreach { case ((j, want), i) =>
        val got = Option(row.get(i)).map(_.toString).orNull
        assert(got == want, s"batch $bi col $i: got $got want $want\n  $j")
      }
    }
    // textOrder mode: the same literal comparisons under Jet's
    // case-insensitive database order, vs equalsIgnoreCase /
    // case-folded startsWith references
    textOrderCases.result().grouped(25).zipWithIndex.foreach {
      case (batch, bi) =>
        val row = spark.sql(graft.sources.JetSql.translate(
          "SELECT " + batch.zipWithIndex.map {
            case ((j, _), i) => s"$j AS c$i"
          }.mkString(", "),
          Map.empty[String, Any], Map.empty, textOrder = true))
          .collect()(0)
        batch.zipWithIndex.foreach { case ((j, want), i) =>
          val got = Option(row.get(i)).map(_.toString).orNull
          assert(got == want,
            s"textOrder batch $bi col $i: got $got want $want\n  $j")
        }
    }
  }
}
