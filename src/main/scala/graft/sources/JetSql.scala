package graft.sources

import org.apache.spark.sql.SparkSession

/** Jet-SQL (Access saved-query) → Spark/ANSI SQL translation — the
  * porting layer for the queries a reference user has SAVED inside
  * their `.mdb` (Access stores them as Jet-SQL text; `mdb-schema`-era
  * workflows re-type them by hand). Covers the dialect gaps every
  * Access query hits, by token-stream rewriting (a tokenizer that
  * honors Jet's string/identifier quoting, then local rewrites — no
  * regex over quoted content, so a `*` inside a string literal is
  * never touched):
  *
  *   - `[Bracketed Identifiers]` → sanitized names (the same
  *     [[JetTypes.sanitizeName]] the migration applies to columns, so
  *     translated queries run against migrated tables verbatim);
  *   - `"double-quoted strings"` → 'single-quoted' (inner `'` doubled,
  *     Jet's own `""` escape folded);
  *   - `#1/31/2024#` / `#2024-01-31#` date literals → `DATE '…'`;
  *     with a time part → `TIMESTAMP '…'` (Jet's US m/d/y order);
  *   - `IIF(c, a, b)` → `CASE WHEN c THEN a ELSE b END` (nested IIFs
  *     recurse; argument commas found at depth 0 only);
  *   - `NZ(x, y)` → `COALESCE(x, y)`; the 1-arg form is REJECTED (its
  *     Access result is context-typed — "" in string context, 0
  *     numeric — and silently guessing corrupts data);
  *   - `&` (Jet concat) treats Null as "" — NOT ANSI `||`'s null
  *     propagation — so depth-0 `&`-chains rewrite to null-skipping
  *     `concat_ws('', …)` (Spark/DuckDB) or `COALESCE(x,'') || …`
  *     (JDBC targets), with operand boundaries honoring Jet
  *     precedence (arithmetic and Mod bind tighter; comparisons and
  *     clause keywords bound the chain); a LIKE pattern built by `&`
  *     rejects — its wildcards could no longer be translated;
  *   - `SELECT TOP n …` is TIE-FAITHFUL: when the nth row ties on
  *     the ORDER BY keys Access returns the WHOLE tie group, so with
  *     an ORDER BY whose keys are not provably duplicate-free the
  *     translation is the tie-aware windowed form (`RANK() ≤ n` over
  *     the statement's own ORDER BY — LIMIT would cut the group).
  *     The trailing-`LIMIT n` FAST PATH (TakeOrdered on the engine,
  *     no global window) applies exactly when ties are impossible:
  *     no ORDER BY at all (an arbitrary slice either way), or a
  *     caller-declared unique key of the scope's single table among
  *     the ORDER BY columns (`uniqueKeys` — derived from the .mdb's
  *     own unique indexes by
  *     `MigrationPipeline.uniqueKeysFromSpecs`). The windowed form
  *     resolves every ORDER BY key IN the original scope: a key that
  *     is an output column ranks in a plain wrapper, while qualified
  *     refs, non-projected source columns, and expressions ride
  *     inside the scope as `__jet_kN` helper columns (stripped from
  *     the output again) — only a DISTINCT scope restricts keys to
  *     output columns, as Access itself does. Engine-only (JDBC
  *     targets reject unless the fast path proves unique). A TOP in
  *     a scope that also holds a depth-0 UNION REJECTS (Access
  *     applies TOP per SELECT branch, but a trailing LIMIT would
  *     silently bind to the COMBINED result — parenthesize the
  *     branch); `TOP n PERCENT` → the same tie-aware windowed form
  *     with `RANK() ≤ CEILING(pct of COUNT)`, boundary ties included
  *     — LIMIT is not equivalent — still rejected for JDBC targets;
  *   - LIKE patterns: Jet wildcards `*`/`?` → `%`/`_` (only inside
  *     the string literal FOLLOWING a LIKE, never elsewhere); Jet's
  *     `[charlist]` and `#` (single digit) wildcards — which ANSI
  *     LIKE cannot express — become an anchored RLIKE regex on the
  *     engine target (`[!…]` negation → `[^…]`, ranges shared) and
  *     reject only for JDBC targets, where regex operators are
  *     dialect-specific;
  *   - function renames: UCASE→upper, LCASE→lower, LEN→length,
  *     MID→substr, INSTR→instr, CHR→char, SGN→sign, SQR→sqrt,
  *     STRREVERSE→reverse, WEEKDAY→dayofweek (Access and Spark agree:
  *     1 = Sunday; the 2-arg firstdayofweek form is rejected),
  *     INT(x)→FLOOR(x) (Access Int rounds toward −∞), FIX(x)→
  *     CAST(x AS BIGINT) (truncation toward zero), NOW→
  *     current_timestamp, DATE()→current_date, CDBL→`CAST(x AS
  *     DOUBLE)`, CSTR→`CAST(x AS STRING)`; CLNG/CINT →
  *     `CAST(BROUND(x) AS BIGINT/INT)` — Access rounds HALF TO EVEN
  *     (banker's), a plain integer cast would truncate; CCUR →
  *     `CAST(BROUND(x, 4) AS DECIMAL(19,4))` (Currency is exact
  *     4-decimal fixed point, banker's-rounded on entry);
  *   - the Access date-arithmetic trio, with Jet's BOUNDARY-COUNT
  *     semantics (not elapsed-unit counts — DateDiff("h", 1:59, 2:01)
  *     is 1 in Access because an hour boundary was crossed):
  *     `DatePart(i, d[, fdow[, fwoy]])` → year/quarter/month/day/
  *     dayofyear/dayofweek/hour/minute/second by interval code; "w"
  *     renumbers under any literal firstdayofweek (pmod shift), "ww"
  *     at the DEFAULT anchors (Sunday / week-with-Jan-1) emits stock
  *     Spark SQL runnable on any plain session (r14 — the r13 switch
  *     to jet_weeknum everywhere silently broke previously-working
  *     translations on sessions without GraftExtensions; the stock
  *     form is value-identical to jet_weeknum(d,1,1) by construction
  *     — pinned densely in JetSqlSpec — and splicing the date twice
  *     is safe because the translator's output domain has no per-row
  *     non-deterministic function: Now()/Date() become Spark's
  *     query-constant current_timestamp/current_date); any OTHER
  *     documented firstdayofweek 0-7 / firstweekofyear 0-3 anchor
  *     emits the registered `jet_weeknum` expression (r13 — VB's
  *     within-year late-December numbering per KB 200299, date
  *     argument spliced exactly ONCE); non-LITERAL anchor arguments
  *     still reject (a data-driven renumbering has no static SQL);
  *     `DateAdd(i, n, d)` →
  *     `timestampadd(UNIT, n, d)` (month-end clamping matches Access:
  *     Jan 31 + 1 month = Feb 29); `DateDiff(i, a, b[, fdow[, fwoy]])`
  *     → calendar
  *     boundary counts: yyyy/q/m as year/quarter/month-index
  *     differences, d/y as `datediff`, w as whole-7-day periods
  *     (truncated toward zero, Access's Fix), ww as fdow week-start
  *     boundaries crossed — stock `date_sub(d, dayofweek(d)-1)`
  *     anchoring under the default Sunday fdow (r14, plain-session
  *     safe), `jet_weekstart` under any other anchor (fwoy is
  *     accepted and ignored, as VB does — week-of-YEAR rules never
  *     affect a week boundary COUNT), h/n/s as truncated-clock
  *     differences; only the NON-DEFAULT-anchor "ww"/"w" emissions
  *     need GraftExtensions registered on the executing session
  *     (every default-anchor emission is stock Spark SQL);
  *   - `PARAMETERS [name] Type, …;` headers: declarations are parsed
  *     and every use of a declared parameter is replaced by a literal
  *     rendered from the caller's binding map per the DECLARED type
  *     (Text → quoted string, DateTime → DATE/TIMESTAMP literal,
  *     Long/Short/Byte → integer, Double/Single → plain decimal,
  *     Currency → banker's-rounded 4-decimal, Bit/YesNo → boolean);
  *     an unbound parameter fails loudly with its name and type;
  *   - `TRANSFORM agg SELECT … GROUP BY … PIVOT expr IN (v1, …)`
  *     (Access crosstab queries) → ANSI conditional aggregation: one
  *     `agg(CASE WHEN expr = v THEN arg END) AS v` column per heading
  *     appended to the row-head select list — runs identically on
  *     Spark and any ANSI engine, no PIVOT-clause dialect needed.
  *     Without an explicit IN list Access discovers headings from the
  *     data; `translate` rejects that form (pure text cannot), and
  *     [[translateCrosstab]] reproduces it with a bounded DISTINCT
  *     probe (≤ maxHeadings, deterministic ordering);
  *   - `FORMAT(d, "pattern")` date masks → `date_format`: numeric
  *     y/q/m/d/h/n/s runs, separators, en-US month/day NAMES
  *     (mmm/mmmm/ddd/dddd — r13; Spark's fixed Locale.US matches the
  *     US assumptions the translator already makes), the uppercase
  *     `AM/PM` marker (flips h-runs to 12-hour), and Jet's
  *     m-after-h-means-minutes context rule; case-variant AM/PM
  *     spellings and the 1-arg general form still REJECT;
  *   - domain aggregates `DSum/DCount/DAvg/DMin/DMax("expr",
  *     "domain"[, "criteria"])` → uncorrelated scalar subqueries —
  *     each string argument is itself a Jet-SQL fragment and recurses
  *     through the translator; criteria built by CONCATENATION embed
  *     row values into program text and reject. `SWITCH` (pairwise) /
  *     `CHOOSE` (1-based index) → CASE forms with Access's
  *     no-match-is-Null semantics;
  *   - action queries: `DELETE * FROM` drops the designer star,
  *     `INSERT INTO … SELECT` and single-table `UPDATE … SET` pass
  *     through the normal rewrites, and `UPDATE … JOIN` REJECTS —
  *     a multi-table update is a MERGE on the target system;
  *   - `DISTINCTROW` over a SINGLE table translates by dropping the
  *     keyword — Access itself ignores it there (its duplicate
  *     elimination is over underlying RECORDS, and a one-table
  *     query's records are its rows), and the Access designer emits
  *     it by default, so this is the construct a ported legacy app
  *     hits first; the multi-table form whose OUTPUT columns all come
  *     from one table (the designer's filter-join shape) translates
  *     to record-identity dedup — SELECT DISTINCT when a declared
  *     unique key rides in the output, GROUP BY output+key otherwise
  *     (both plain ANSI, kept on JDBC targets); only the general
  *     form (output fields from several tables) still rejects
  *     (eliminating duplicates over non-output source records has no
  *     ANSI equivalent), as does the keyed form without a declared
  *     unique key (record identity unprovable);
  *   - anything it cannot translate faithfully (e.g. DLOOKUP — it
  *     returns an ORDER-UNDEFINED matching row's value) is REJECTED
  *     with the construct named — a saved query ports correctly or
  *     loudly, never subtly wrong.
  *
  * Known caveat (schema-blind by construction): Jet's `+` is BOTH
  * numeric addition and the null-PROPAGATING string concat; without
  * column types a text rewriter cannot tell them apart, so `+`
  * passes through as addition. A Jet query using `+` on string
  * columns must port by hand (`||` is the ANSI equivalent).
  */
object JetSql {

  private def fail(what: String): Nothing =
    throw new IllegalArgumentException(
      s"jetsql: $what has no faithful ANSI translation here — " +
        "port this saved query by hand (the engine-side operators " +
        "cover TOP n PERCENT via q_jet_top_percent; data-discovered " +
        "crosstab headings via translateCrosstab)")

  /** Token: (kind, text). Kinds: word, ident ([bracketed] — arrives
    * pre-sanitized; NEVER matches a keyword position, because
    * bracketing is exactly how Jet escapes a reserved word into an
    * identifier, and its bracketed-ness survives so JDBC-target
    * emission can quote it), string ('…' already ANSI), number,
    * punct, ws, date (#…# body), raw (pre-rendered SQL text — bound
    * parameter literals and the JDBC pass's pre-quoted idents). */
  private final case class Tok(kind: String, text: String)

  private def tokenize(sql: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      if (c.isWhitespace) {
        var j = i
        while (j < n && sql.charAt(j).isWhitespace) j += 1
        out += Tok("ws", " ")
        i = j
      } else if (c == '[') {
        val j = sql.indexOf(']', i + 1)
        require(j > 0, s"jetsql: unterminated [identifier at $i")
        out += Tok("ident", JetTypes.sanitizeName(sql.substring(i + 1, j)))
        i = j + 1
      } else if (c == '"') {
        // Jet string: "" escapes a quote
        val sb = new StringBuilder
        var j = i + 1
        var done = false
        while (!done) {
          require(j < n, s"jetsql: unterminated string at $i")
          val ch = sql.charAt(j)
          if (ch == '"') {
            if (j + 1 < n && sql.charAt(j + 1) == '"') {
              sb.append('"'); j += 2
            } else { done = true; j += 1 }
          } else { sb.append(ch); j += 1 }
        }
        out += Tok("string", sb.toString)
        i = j
      } else if (c == '\'') {
        // already-ANSI string: '' escape
        val sb = new StringBuilder
        var j = i + 1
        var done = false
        while (!done) {
          require(j < n, s"jetsql: unterminated string at $i")
          val ch = sql.charAt(j)
          if (ch == '\'') {
            if (j + 1 < n && sql.charAt(j + 1) == '\'') {
              sb.append('\''); j += 2
            } else { done = true; j += 1 }
          } else { sb.append(ch); j += 1 }
        }
        out += Tok("string", sb.toString)
        i = j
      } else if (c == '#') {
        val j = sql.indexOf('#', i + 1)
        require(j > 0, s"jetsql: unterminated #date# literal at $i")
        out += Tok("date", sql.substring(i + 1, j))
        i = j + 1
      } else if (c.isLetter || c == '_') {
        var j = i
        while (j < n && (sql.charAt(j).isLetterOrDigit ||
          sql.charAt(j) == '_')) j += 1
        val w = sql.substring(i, j)
        // VBA's $-suffixed String-typed call forms (Chr$, UCase$,
        // Format$ …) are the same functions — fold the $ away for
        // the known set when it is call-form ($ then '('). The only
        // semantic gap is Null handling ($-forms ERROR where bare
        // forms propagate Null) — propagation is this translator's
        // documented stance. Unknown words keep their $ and fail
        // loudly downstream.
        if (j < n && sql.charAt(j) == '$' &&
            j + 1 < n && sql.charAt(j + 1) == '(' &&
            dollarFns(w.toLowerCase)) {
          out += Tok("word", w)
          i = j + 1
        } else {
          out += Tok("word", w)
          i = j
        }
      } else if (c.isDigit) {
        var j = i
        while (j < n && (sql.charAt(j).isDigit || sql.charAt(j) == '.'))
          j += 1
        out += Tok("number", sql.substring(i, j))
        i = j
      } else {
        out += Tok("punct", c.toString)
        i += 1
      }
    }
    out.result()
  }

  /** Jet #date# text → ANSI literal. Accepts m/d/yyyy (Jet's US
    * order) and ISO y-m-d, each with an optional HH:MM[:SS] part. */
  private def dateLiteral(body: String): String = {
    val parts = body.trim.split("\\s+", 2)
    val d = parts(0)
    val iso =
      if (d.contains("/")) {
        val f = d.split("/")
        require(f.length == 3, s"jetsql: bad date '$body'")
        f"${f(2).toInt}%04d-${f(0).toInt}%02d-${f(1).toInt}%02d"
      } else {
        val f = d.split("-")
        require(f.length == 3, s"jetsql: bad date '$body'")
        f"${f(0).toInt}%04d-${f(1).toInt}%02d-${f(2).toInt}%02d"
      }
    if (parts.length == 1) s"DATE '$iso'"
    else {
      val t = parts(1).split(":")
      val hms = f"${t(0).toInt}%02d:${t(1).toInt}%02d:" +
        f"${(if (t.length > 2) t(2).toInt else 0)}%02d"
      s"TIMESTAMP '$iso $hms'"
    }
  }

  private val renames = Map(
    "ucase" -> "upper", "lcase" -> "lower", "len" -> "length",
    "mid" -> "substr", "instr" -> "instr",
    "sgn" -> "sign", "sqr" -> "sqrt", "strreverse" -> "reverse")
  // (chr left this map in r14 wave 5: the bare rename to char() was
  // silently wrong for codes 128-159, where CP1252 — Jet's text
  // codepage — has printable punctuation and Unicode has C1
  // controls; it now translates through the codepage, see emit.)

  /** Jet's text codepage, for Chr()/String() char codes (the same
    * charset the Jet3 page codec reads names and text through). */
  private val cp1252 = java.nio.charset.Charset.forName("windows-1252")

  /** The VBA functions whose `$`-suffixed String-typed call forms
    * fold to the bare name in the tokenizer (`Chr$(65)` ≡ `Chr(65)`
    * but for Null handling — see the tokenizer note). */
  private val dollarFns = Set("chr", "str", "ucase", "lcase", "left",
    "right", "mid", "trim", "ltrim", "rtrim", "space", "string",
    "format", "hex", "oct", "strreverse")
  // CDbl/CStr are pure casts; CLng/CInt are NOT plain casts —
  // Access rounds HALF TO EVEN (banker's) where CAST(double AS
  // BIGINT) truncates in Spark, so they translate through BROUND
  // (Spark's banker's rounding). CLng(2.5) = 2 in Access AND here.
  private val castFns = Map("cdbl" -> "DOUBLE", "cstr" -> "STRING",
    "csng" -> "FLOAT")
  private val broundFns = Map("clng" -> "BIGINT", "cint" -> "INT")
  // Call-form-only renames (the bare word must survive: `AS INT` is a
  // cast target, not the Int() function; a column named `var` is
  // legal). Jet StDev/Var are SAMPLE statistics, the P-suffixed forms
  // population — Spark's bare `stddev`/`variance` happen to agree but
  // the explicit _samp/_pop names can't drift.
  private val callRenames = Map(
    "int" -> "FLOOR", "stdev" -> "stddev_samp", "stdevp" -> "stddev_pop",
    "var" -> "var_samp", "varp" -> "var_pop", "atn" -> "atan")
  // DLookup stays rejected: it returns SOME matching row's value with
  // no defined order — porting it silently would freeze one engine's
  // arbitrary pick into the result. The aggregate D-functions are
  // well-defined and translate to scalar subqueries below.
  // (DISTINCTROW left this set in round 10: the single-table form —
  // which Access itself ignores — now translates; see emit.)
  // DFirst/DLast share DLookup's defect (SOME row by storage order)
  // without even a criteria filter to narrow it — same named
  // rejection instead of the cryptic unknown-function passthrough.
  private val rejected = Set("dlookup", "dfirst", "dlast")

  /** Domain aggregate name → SQL aggregate. */
  private val domainAggs = Map(
    "dsum" -> "SUM", "dcount" -> "COUNT", "davg" -> "AVG",
    "dmin" -> "MIN", "dmax" -> "MAX")

  /** Access Format() DATE patterns → Spark date_format patterns.
    *
    * r13 widened the subset with the three masks every legacy Access
    * report uses (r12 verdict "What's missing" #2):
    *   - month/day NAMES — mmm/mmmm → MMM/MMMM, ddd/dddd → EEE/EEEE.
    *     Spark renders datetime text through `Locale.US`
    *     (TimestampFormatter's fixed default), which is exactly the
    *     en-US rendering the rest of this translator already assumes
    *     (US m/d/yyyy date order, US week defaults); a session whose
    *     ACCESS locale differed would have differed in those too.
    *   - `AM/PM` (the exact uppercase spelling) → `a`, and its
    *     presence ANYWHERE in the mask switches every h-run to
    *     12-hour rendering (h/hh clock-hour 1..12, noon and midnight
    *     both "12"), exactly VB's rule. The case-variant spellings
    *     still reject: Access renders `am/pm` lowercase and `A/P`
    *     single-letter, and Spark's `a` pattern has no lowercase or
    *     single-letter form — a silently re-cased report string is
    *     worse than a loud rejection.
    *   - an m-run of 1-2 IMMEDIATELY after an h-run (separators
    *     don't reset the context) means MINUTES — Jet's documented
    *     context rule, previously a rejection. mmm after h is still a
    *     month name (the rule covers m/mm only).
    * 2-digit-year pivot masks stay out (yy is a RENDER-only run and
    * translates; it's the parse direction that pivots). */
  private def formatPattern(pat: String): String = {
    // pass 1: a 12-hour marker anywhere flips every h-run
    val amPm = pat.toUpperCase.contains("AM/PM")
    val out = new StringBuilder
    var i = 0
    var lastLetter = ' '
    while (i < pat.length) {
      val c = pat.charAt(i).toLower
      if (pat.regionMatches(true, i, "AM/PM", 0, 5)) {
        if (!pat.regionMatches(false, i, "AM/PM", 0, 5))
          fail("FORMAT with a case-variant AM/PM marker (Access " +
            "renders am/pm lowercase; Spark's 'a' has no lowercase " +
            "form — spell it AM/PM)")
        out.append('a')
        lastLetter = 'a'
        i += 5
      } else if (c.isLetter) {
        var j = i
        while (j < pat.length && pat.charAt(j).toLower == c) j += 1
        val run = j - i
        val mapped = (c, run) match {
          case ('y', 4) => "yyyy"
          case ('y', 2) => "yy"
          case ('q', 1) => "Q"
          case ('m', 1) | ('m', 2) if lastLetter == 'h' =>
            // Jet context rule: minutes, not month (r13 — was a
            // rejection). Track as 'n' so a SECOND m-run reverts to
            // month, exactly VB ("h:m:m" = hour:minute:month).
            if (run == 1) "m" else "mm"
          case ('m', 1) => "M"
          case ('m', 2) => "MM"
          case ('m', 3) => "MMM"
          case ('m', 4) => "MMMM"
          case ('d', 1) => "d"
          case ('d', 2) => "dd"
          case ('d', 3) => "EEE"
          case ('d', 4) => "EEEE"
          case ('h', 1) => if (amPm) "h" else "H"
          case ('h', 2) => if (amPm) "hh" else "HH"
          case ('n', 1) => "m"
          case ('n', 2) => "mm"
          case ('s', 1) => "s"
          case ('s', 2) => "ss"
          case _ => fail(s"FORMAT pattern run '${c.toString * run}' " +
            "(locale-dependent or out of the deterministic date subset)")
        }
        out.append(mapped)
        lastLetter =
          if (c == 'm' && run <= 2 && lastLetter == 'h') 'n' else c
        i = j
      } else if ("-/:. _,".contains(c)) {
        out.append(pat.charAt(i))
        i += 1
      } else fail(s"FORMAT pattern character '$c'")
    }
    out.toString
  }

  /** Access Format() NUMERIC masks → Spark SQL, for the deterministic
    * subset (r12 — numeric masks were a blanket rejection):
    *   - `0`, `0.0…`       → format_string("%.<d>f", x): fixed
    *     decimals, no grouping;
    *   - `#,##0`, `#,##0.0…` → format_number(x, d): comma grouping.
    * Both render half AWAY FROM ZERO on the double's SHORTEST decimal
    * representation: ONE %f rendering (java.util.Formatter rounds the
    * FormattedFloatingDecimal digits HALF_UP — 1.005 renders "1.01",
    * 2.5 renders "3"), with the grouped form adding commas via a
    * lookahead regexp over that same string (r12 review:
    * format_number rides DecimalFormat's HALF_EVEN default — it would
    * render Format(2.5, "#,##0") as "2" — so the grouped branch must
    * not round independently at all). This matches VB Format's
    * arithmetic rounding. PRECISION BOUND (documented subset): the operand is
    * rendered at double precision, so Currency/NUMERIC values needing
    * more than ~15 significant digits format with double-rounded
    * digits; Format is a report-formatting surface, and exact
    * wide-decimal rendering belongs to CStr/casts. The quirky corners
    * stay rejections rather than silent approximations: bare-#
    * integer parts (Format(0, "#") renders the EMPTY string), `#`
    * decimal digits (trailing-zero trimming), multi-`0` zero-pad
    * widths (pad interacts with the sign), and percent/scientific/
    * multi-section masks. */
  private val numericMask = "^(#,##)?0(\\.(0+))?$".r

  /** The CORE digit mask of one section — `0`, `0.0…`, `#,##0`,
    * `#,##0.0…` — rendered through ONE %f pass. */
  private def coreNumericSql(expr: String, core: String,
      whole: String): String =
    core match {
      case numericMask(group, _, decs) =>
        val d = if (decs == null) 0 else decs.length
        // ONE rounding path for both mask families: java Formatter's
        // %f (HALF_UP on the double's shortest decimal repr). The
        // grouped form is the SAME rendering with commas inserted by
        // a lookahead regex — NOT format_number, which rides
        // DecimalFormat's HALF_EVEN default (Spark 4's FormatNumber
        // never calls setRoundingMode: format_number(2.5, 0) renders
        // "2" where %f and VB render "3"). r12 review.
        val plain = s"format_string('%.${d}f', CAST($expr AS DOUBLE))"
        if (group == null) plain
        else {
          // d is known at translation time, so anchor the grouping
          // lookahead to THIS mask's shape: with decimals the commas
          // may only land left of the '.', without them only left of
          // end-of-string. The r12 `($|\.)` alternation also matched
          // FRACTION digits whose suffix length was a multiple of 3 —
          // Format(1234.5678, "#,##0.0000") rendered "1,234.5,678"
          // (r13 ADVICE). An anchored lookahead can't cross the dot.
          val look =
            if (d > 0) """'(\\d)(?=(\\d{3})+\\.)', '$1,')"""
            else """'(\\d)(?=(\\d{3})+$)', '$1,')"""
          s"regexp_replace($plain, " + look
        }
      case _ =>
        fail(s"FORMAT numeric mask \"$whole\" (deterministic subset: " +
          "\"0\", \"0.0…\", \"#,##0\", \"#,##0.0…\" cores with " +
          "\"$()+- %\" literal affixes and 1-4 ;-sections — bare-# " +
          "integer parts render empty zeros, # decimals trim, " +
          "zero-pad widths clash with the sign)")
    }

  /** BARE literal affix characters a section may carry around its
    * digit core without quoting. Positional, rendered verbatim (VB
    * literals are positional: `Format(-5, "$0.00")` is "$-5.00");
    * each bare `%` ALSO scales the operand by 100 (VB's
    * percent-placeholder rule). Anything else must arrive QUOTED
    * (`0.00" kg"`) or backslash-escaped (`\u`), the VB mask-literal
    * forms (r14.1 — previously a documented descope). */
  private val sectionLiterals = "$()+- %"

  /** One section parsed into (prefix literal TEXT, digit core,
    * suffix literal TEXT, bare-% count). Quoted runs and `\x`
    * escapes contribute literal text (a quoted "%" displays without
    * scaling — only BARE % scales); the digit core is one contiguous
    * `[0#,.]` run; a second digit run after literal text is the
    * positional fill machinery and stays out. Literal content
    * excludes `'` and `\` — FORMAT itself rejects on JDBC targets
    * (the handler, r14), but keeping the literal charset
    * dialect-neutral means the emission never depends on any one
    * parser's string escape rules. */
  private def parseSectionAffixes(sec: String, whole: String)
      : (String, String, String, Int) = {
    val pre = new StringBuilder
    val core = new StringBuilder
    val suf = new StringBuilder
    var pct = 0
    var phase = 0 // 0 = before core, 1 = in core, 2 = after core
    def lit: StringBuilder = if (phase == 0) pre else suf
    def addLit(c: Char): Unit = {
      if (c == '\'' || c == '\\')
        fail(s"FORMAT section \"$sec\" of \"$whole\": literal '" +
          c + "' is out (Spark/Derby/PostgreSQL string escaping " +
          "disagrees on it)")
      lit += c
    }
    var i = 0
    while (i < sec.length) {
      val c = sec.charAt(i)
      if (c == '0' || c == '#') {
        if (phase == 2)
          fail(s"FORMAT section \"$sec\" of \"$whole\": a second " +
            "digit run after literal text (right-to-left positional " +
            "fill is out of the deterministic subset)")
        phase = 1
        core += c
        i += 1
      } else if (phase == 1 && (c == ',' || c == '.')) {
        // inside the core only while digits continue — a ',' or '.'
        // followed by more digits extends the core; otherwise it
        // ends the core and the char re-parses as a (rejected-bare)
        // literal
        if (i + 1 < sec.length &&
            (sec.charAt(i + 1) == '0' || sec.charAt(i + 1) == '#')) {
          core += c
          i += 1
        } else phase = 2
      } else if (c == '"') {
        val j = sec.indexOf('"', i + 1)
        if (j < 0)
          fail(s"FORMAT section \"$sec\" of \"$whole\": unterminated " +
            "quoted literal")
        if (phase == 1) phase = 2
        sec.substring(i + 1, j).foreach(addLit)
        i = j + 1
      } else if (c == '\\') {
        if (i + 1 >= sec.length)
          fail(s"FORMAT section \"$sec\" of \"$whole\": dangling " +
            "backslash escape")
        if (phase == 1) phase = 2
        addLit(sec.charAt(i + 1))
        i += 2
      } else if (sectionLiterals.contains(c)) {
        if (phase == 1) phase = 2
        if (c == '%') pct += 1
        lit += c
        i += 1
      } else
        fail(s"FORMAT section \"$sec\" of \"$whole\": literal affix " +
          s"character '$c' outside \"$sectionLiterals\" — quote it " +
          "(\"...\") or escape it (\\" + c + ") to display verbatim")
    }
    (pre.toString, core.toString, suf.toString, pct)
  }

  /** Literal text → a SQL string literal. Content already excludes
    * `'` and `\` (parseSectionAffixes), so plain quoting is
    * dialect-safe. */
  private def sqlTextLit(s: String): String = s"'$s'"

  /** ONE numeric section (r14): `[affix]core[affix]` — e.g.
    * `$#,##0.00`, `(0.00)`, `0.0%`, `-0`, `0.00" kg"`. The operand
    * is spliced as given (sign handling is the CALLER's job for
    * multi-section masks: VB renders the negative section on the
    * absolute value). */
  private def sectionSql(expr: String, sec: String,
      whole: String): String = {
    val (prefix, core, suffix, pct) = parseSectionAffixes(sec, whole)
    if (core.isEmpty)
      fail(s"FORMAT section \"$sec\" of \"$whole\" has no digit " +
        "placeholder (only the zero/null sections may be literal)")
    val scaled =
      if (pct == 0) expr
      else s"(($expr) * ${BigInt(100).pow(pct)})"
    val rendered = coreNumericSql(scaled, core, whole)
    val body =
      if (prefix.isEmpty && suffix.isEmpty) rendered
      else {
        val parts =
          (if (prefix.nonEmpty) Seq(sqlTextLit(prefix)) else Nil) ++
            Seq(rendered) ++
            (if (suffix.nonEmpty) Seq(sqlTextLit(suffix)) else Nil)
        parts.mkString("concat(", ", ", ")")
      }
    // NULL must propagate EXPLICITLY (r14): Java's Formatter renders
    // a null %f argument as the STRING "null", which the precision
    // then truncates — format_string('%.2f', NULL) is "nu". Access
    // renders Format(Null, mask) as a blank; SQL NULL is our
    // equivalent, never a mangled literal.
    s"(CASE WHEN ($expr) IS NOT NULL THEN $body END)"
  }

  /** Characters of `mask` OUTSIDE quoted runs and backslash escapes
    * — mask-STRUCTURE dispatch (does it have a digit core? sections?)
    * must not be fooled by literal text containing `;`/`0`/`#`. */
  private def bareMaskChars(mask: String): Seq[Char] = {
    val out = Seq.newBuilder[Char]
    var i = 0
    while (i < mask.length) {
      val c = mask.charAt(i)
      if (c == '"') {
        val j = mask.indexOf('"', i + 1)
        i = if (j < 0) mask.length else j + 1
      } else if (c == '\\') i += 2
      else { out += c; i += 1 }
    }
    out.result()
  }

  /** `;`-split OUTSIDE quoted runs and escapes. */
  private def splitSections(mask: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    while (i < mask.length) {
      val c = mask.charAt(i)
      if (c == '"') {
        val j = mask.indexOf('"', i + 1)
        if (j < 0) { cur ++= mask.substring(i); i = mask.length }
        else { cur ++= mask.substring(i, j + 1); i = j + 1 }
      } else if (c == '\\' && i + 1 < mask.length) {
        cur += c; cur += mask.charAt(i + 1); i += 2
      } else if (c == ';') {
        out += cur.toString; cur.clear(); i += 1
      } else { cur += c; i += 1 }
    }
    out += cur.toString
    out.result()
  }

  /** `pos;neg;zero;null` multi-section numeric masks (r14 — the
    * Access report staple `"$#,##0.00;($#,##0.00)"`). VB's
    * dispatch rules, implemented as a CASE over the SIGN:
    *   - 2 sections: first for >= 0, second for < 0;
    *   - 3-4 sections: pos / neg / zero (/ null);
    *   - the NEGATIVE section renders the ABSOLUTE value (its sign
    *     comes only from mask literals — that's the whole point of
    *     accounting parentheses);
    *   - an EMPTY section falls back to the positive section's
    *     format applied to the SIGNED value (VB: "the missing
    *     section is printed using the format of the positive
    *     value");
    *   - the zero/null sections may be PURE LITERAL text from the
    *     affix charset (`"0.00;-0.00;-"`); the null section must be
    *     (Null has no digits to render); without a 4th section NULL
    *     propagates as SQL NULL — Access renders a blank either way.
    */
  private def sectionedNumericSql(expr: String, mask: String): String = {
    val secs = splitSections(mask)
    if (secs.length > 4)
      fail(s"FORMAT mask \"$mask\" has ${secs.length} sections " +
        "(VB defines at most pos;neg;zero;null)")
    // a DIGIT-FREE section is pure literal chrome ("-", "\"none\"");
    // parseSectionAffixes validates its charset/quoting and yields
    // the rendered text
    def literalOnly(s: String): Option[String] = {
      val (pre, core, suf, _) = parseSectionAffixes(s, mask)
      if (core.isEmpty && (pre + suf).nonEmpty)
        Some(sqlTextLit(pre + suf))
      else None
    }
    val posR = sectionSql(expr, secs.head, mask)
    val negR = secs(1) match {
      case "" => posR // VB: positive's format, signed value
      case s => literalOnly(s).getOrElse(
        sectionSql(s"abs($expr)", s, mask))
    }
    if (secs.length == 2)
      // first section covers positives AND zeros; the ELSE arm also
      // catches NULL, where every renderer null-propagates
      s"(CASE WHEN ($expr) < 0 THEN $negR ELSE $posR END)"
    else {
      val zeroR = secs(2) match {
        case "" => posR // value IS 0 in this branch
        case s => literalOnly(s).getOrElse(sectionSql(expr, s, mask))
      }
      val nullR = secs.lift(3) match {
        case None | Some("") => None
        case Some(s) => literalOnly(s).orElse(
          fail(s"FORMAT null section \"$s\" of \"$mask\" must be " +
            "literal text (Null has no digits to render)"))
      }
      s"(CASE WHEN ($expr) > 0 THEN $posR " +
        s"WHEN ($expr) < 0 THEN $negR " +
        s"WHEN ($expr) = 0 THEN $zeroR" +
        nullR.fold("")(n => s" ELSE $n") + " END)"
    }
  }

  /** Single- or multi-section numeric Format masks. Section/digit
    * STRUCTURE is judged on bare (unquoted, unescaped) characters —
    * a quoted ";" or "0" is literal text, not structure. */
  private def numericFormatSql(expr: String, mask: String): String =
    if (bareMaskChars(mask).contains(';'))
      sectionedNumericSql(expr, mask)
    else sectionSql(expr, mask, mask)

  /** VB's TEXT masks (r14) — the deterministic subset:
    *   - `>` / `<` (alone, or as a whole-mask run): force upper/
    *     lowercase — the single most common Access text mask (code
    *     normalization in saved queries);
    *   - a pure `@` run of n: right-align into n slots — VB pads
    *     SHORT strings with leading spaces and shows LONG strings
    *     whole (so `lpad` alone would be wrong: it truncates);
    *   - a pure `&` run: the string as-is.
    * Mixed literal/placeholder masks (`"@@@-@@"`) fill right-to-left
    * through interleaved literals and `!` flips the fill direction —
    * genuinely positional machinery left out; they reject with the
    * date-pattern diagnostic naming the character. */
  private def textFormatSql(expr: String, mask: String)
      : Option[String] = {
    // 2-section STRING mask (r14 wave 3): `textmask;null-literal` —
    // VB applies the second section to Null AND zero-length strings
    // ("@;\"(none)\"" is the designer idiom for blank cells). Only
    // when the first section IS a recognized text mask — numeric
    // sectioned masks (bare digits) fall through to the numeric
    // path untouched.
    val secs = splitSections(mask)
    if (secs.length == 2 && secs(0).nonEmpty) {
      textSingleSql(expr, secs(0)).map { first =>
        val (pre, core, suf, _) = parseSectionAffixes(secs(1), mask)
        if (core.nonEmpty)
          fail(s"FORMAT text mask \"$mask\": the second (null/" +
            "empty) section must be literal text, found digits")
        s"(CASE WHEN ($expr) IS NULL OR CAST($expr AS STRING) = '' " +
          s"THEN ${sqlTextLit(pre + suf)} ELSE $first END)"
      }
    } else if (secs.length == 1) textSingleSql(expr, mask)
    else None
  }

  private def textSingleSql(expr: String, body: String)
      : Option[String] = {
    if (body.isEmpty) None
    else if (body.forall(_ == '>')) Some(s"upper($expr)")
    else if (body.forall(_ == '<')) Some(s"lower($expr)")
    else if (body.forall(_ == '@')) {
      val n = body.length
      Some(s"(CASE WHEN length($expr) >= $n THEN CAST($expr AS " +
        s"STRING) ELSE lpad($expr, $n, ' ') END)")
    } else if (body.forall(_ == '&')) Some(s"CAST($expr AS STRING)")
    else None
  }

  /** VB's boolean-word named formats: zero → the falsy word, any
    * other number → the truthy word, NULL → NULL (one emission for
    * all three word pairs — r14 review wave 2 deduplicated the
    * copies). */
  private def boolWordsSql(expr: String, truthy: String,
      falsy: String): String =
    s"(CASE WHEN CAST($expr AS DOUBLE) = 0 THEN '$falsy' " +
      s"WHEN CAST($expr AS DOUBLE) IS NOT NULL THEN '$truthy' END)"

  /** MonthName/WeekdayName's abbreviate flag: literal True/False (or
    * VBA's numeric truthiness — 0 falsy, anything else truthy). The
    * rendering pattern is fixed at translate time, so a non-literal
    * flag rejects. */
  private def monthDayNamePattern(arg: Option[Seq[Tok]],
      abbrev: String, full: String): String = arg match {
    case None => full
    case Some(ts) => ts.filter(_.kind != "ws") match {
      case Seq(tk) if tk.kind == "word" &&
          tk.text.equalsIgnoreCase("true") => abbrev
      case Seq(tk) if tk.kind == "word" &&
          tk.text.equalsIgnoreCase("false") => full
      case Seq(tk) if tk.kind == "number" =>
        if (BigDecimal(tk.text) == 0) full else abbrev
      case Seq(s, tk) if s.text == "-" && tk.kind == "number" =>
        if (BigDecimal(tk.text) == 0) full else abbrev
      case _ => fail("MonthName/WeekdayName with a non-literal " +
        "abbreviate flag (the rendering pattern is fixed at " +
        "translate time)")
    }
  }

  /** True when an EMITTED operand contains one of Spark's per-row
    * non-deterministic builtins. The translator itself never emits
    * these (Now()/Date() map to the query-constant
    * current_timestamp/current_date), but UNKNOWN function calls
    * pass through verbatim (r14 review wave 2) — `rand()` typed
    * straight into a saved query would reach a spliced operand. The
    * double-splicing stock "ww" emissions step aside for such
    * operands and use the single-splice jet_* expressions instead. */
  private def perRowNondet(sql: String): Boolean = {
    val l = sql.toLowerCase
    Seq("rand(", "randn(", "random(", "uuid(", "shuffle(",
      "monotonically_increasing_id").exists(l.contains)
  }

  /** VB's NAMED Format()s (r14 — the Access-designer default;
    * previously the most common saved-query rejection). Pinned to
    * the en-US rendering the whole translator assumes (US date
    * order, Locale.US month/day names, `$`/parens accounting
    * negatives), per the documented named-format table:
    * Currency/Fixed/Standard/Percent/Scientific, Yes/No-True/False-
    * On/Off, and the six named date/time formats. "General Number"
    * stays OUT: it renders the double's own shortest decimal form,
    * and Spark's CAST-to-STRING thresholds (scientific at 1e7)
    * diverge from VB's 15-digit rendering — a silently different
    * report string is worse than the loud rejection. "General Date"
    * is conditional exactly as VB documents: date-only at midnight,
    * time-only on Jet's zero day (1899-12-30), both otherwise. */
  private def namedFormatSql(expr: String, name: String)
      : Option[String] = Some(name.toLowerCase match {
    case "currency" =>
      // the en-US accounting rendering IS a two-section mask
      sectionedNumericSql(expr, "$#,##0.00;($#,##0.00)")
    case "fixed" => sectionSql(expr, "0.00", "Fixed")
    case "standard" => sectionSql(expr, "#,##0.00", "Standard")
    // ×100 + "%", two decimals, no grouping (the documented table
    // says "percent sign appended; two digits right of the decimal"
    // and names no thousand separator)
    case "percent" => sectionSql(expr, "0.00%", "Percent")
    // "standard scientific notation": VB's 0.00E+00 shape — Java's
    // %.2E matches digit-for-digit (two mantissa decimals, signed
    // two-digit exponent, HALF_UP on the shortest decimal repr)
    case "scientific" =>
      // same null guard as sectionSql: %.2E of NULL is the mangled
      // string "nu", not NULL
      s"(CASE WHEN ($expr) IS NOT NULL THEN " +
        s"format_string('%.2E', CAST($expr AS DOUBLE)) END)"
    case "yes/no" => boolWordsSql(expr, "Yes", "No")
    case "true/false" => boolWordsSql(expr, "True", "False")
    case "on/off" => boolWordsSql(expr, "On", "Off")
    case "short date" => s"date_format($expr, 'M/d/yyyy')"
    case "long date" => s"date_format($expr, 'EEEE, MMMM d, yyyy')"
    case "medium date" => s"date_format($expr, 'dd-MMM-yy')"
    case "short time" => s"date_format($expr, 'HH:mm')"
    case "long time" => s"date_format($expr, 'h:mm:ss a')"
    case "medium time" => s"date_format($expr, 'hh:mm a')"
    case "general date" =>
      // VB: a time on Jet's day zero (CDate(0) = 1899-12-30, how
      // Access stores pure times) renders time-only; midnight on any
      // OTHER day renders date-only; otherwise both. The day-zero
      // branch comes FIRST (r14 review): CDate(0) itself — day zero
      // at midnight — is "12:00:00 AM" in VB (CStr(CDate(0))), not
      // "12/30/1899". NULL falls off the CASE.
      s"(CASE WHEN to_date($expr) = DATE '1899-12-30' " +
        s"THEN date_format($expr, 'h:mm:ss a') " +
        s"WHEN date_format($expr, 'HH:mm:ss') = '00:00:00' " +
        s"THEN date_format($expr, 'M/d/yyyy') " +
        s"ELSE date_format($expr, 'M/d/yyyy h:mm:ss a') END)"
    case "general number" =>
      fail("FORMAT \"General Number\" (renders the double's own " +
        "shortest decimal form; Spark's CAST-to-STRING switches to " +
        "scientific at 1e7 where VB holds out to 15 digits — use " +
        "CStr semantics via an explicit mask instead)")
    case _ => return None
  })

  // Jet interval codes (DatePart/DateAdd/DateDiff first argument).
  private val partFns = Map(
    "yyyy" -> "year", "q" -> "quarter", "m" -> "month", "d" -> "day",
    "y" -> "dayofyear", "w" -> "dayofweek", "h" -> "hour",
    "n" -> "minute", "s" -> "second")
  private val addUnits = Map(
    "yyyy" -> "YEAR", "q" -> "QUARTER", "m" -> "MONTH", "d" -> "DAY",
    "y" -> "DAY", "w" -> "DAY", "ww" -> "WEEK", "h" -> "HOUR",
    "n" -> "MINUTE", "s" -> "SECOND")

  /** KEYWORD match: bare words only. A bracketed `[Order]` tokenizes
    * as an ident — in Jet, bracketing is exactly how a user ESCAPES a
    * reserved word into an identifier, so an ident must never match a
    * keyword position (r11 review: `WHERE [Order] > 3` tripping the
    * TOP pre-pass's ORDER-without-BY check; hasDepth0Union already
    * guarded itself locally for the same reason). */
  private def isWord(t: Tok, w: String): Boolean =
    t.kind == "word" && t.text.equalsIgnoreCase(w)

  /** Trailing firstdayofweek / firstweekofyear arguments (r13 — r12
    * accepted only the literal defaults 0/1): any LITERAL value in
    * the documented range translates, resolved here (0 = vbUseSystem
    * → the US defaults this translator assumes throughout: Sunday /
    * week-with-Jan-1). A non-literal anchor would renumber weeks per
    * ROW — no static SQL exists for that, so it stays a loud
    * rejection rather than a silently-Sunday approximation. */
  private def weekAnchorArg(arg: Vector[Tok], what: String,
      max: Int): Int = {
    val ts = arg.filter(_.kind != "ws")
    if (ts.length != 1 || ts.head.kind != "number" ||
        !ts.head.text.forall(_.isDigit))
      fail(s"$what must be an integer literal (a data-driven week " +
        "anchor renumbers per row)")
    val v = ts.head.text.toInt
    if (v > max) fail(s"$what $v outside 0..$max")
    if (v == 0) 1 else v
  }

  /** Render one token back to SQL text. */
  private def render(t: Tok): String = t.kind match {
    case "string" => "'" + t.text.replace("'", "''") + "'"
    case "date" => dateLiteral(t.text)
    case _ => t.text
  }

  /** Split `toks` (the inside of a call) at depth-0 commas. */
  private def splitArgs(toks: Vector[Tok]): Vector[Vector[Tok]] = {
    val out = Vector.newBuilder[Vector[Tok]]
    var depth = 0
    var cur = Vector.newBuilder[Tok]
    toks.foreach { t =>
      if (t.kind == "punct" && t.text == "(") { depth += 1; cur += t }
      else if (t.kind == "punct" && t.text == ")") { depth -= 1; cur += t }
      else if (t.kind == "punct" && t.text == "," && depth == 0) {
        out += cur.result(); cur = Vector.newBuilder[Tok]
      } else cur += t
    }
    out += cur.result()
    out.result()
  }

  /** Find the matching ')' for the '(' at `open` (index into toks). */
  private def closeOf(toks: Vector[Tok], open: Int): Int = {
    var depth = 0
    var i = open
    while (i < toks.length) {
      val t = toks(i)
      if (t.kind == "punct" && t.text == "(") depth += 1
      else if (t.kind == "punct" && t.text == ")") {
        depth -= 1
        if (depth == 0) return i
      }
      i += 1
    }
    throw new IllegalArgumentException("jetsql: unbalanced parentheses")
  }

  /** True when a depth-0 UNION KEYWORD exists in this scope's tokens
    * (kind `word` only — a bracketed [Union] column is an ident and
    * never a set operator). Used to keep a scope's trailing LIMIT
    * from silently binding to a combined UNION result when Access
    * applies TOP per SELECT branch. */
  private def hasDepth0Union(toks: Vector[Tok]): Boolean = {
    var depth = 0
    toks.exists { u =>
      if (u.kind == "punct" && u.text == "(") { depth += 1; false }
      else if (u.kind == "punct" && u.text == ")") { depth -= 1; false }
      else depth == 0 && u.kind == "word" &&
        u.text.equalsIgnoreCase("union")
    }
  }

  /** True when the depth-0 FROM clause FOLLOWING `from` (a token
    * index — pass the SELECT keyword's position so a UNION's later
    * branch checks its OWN FROM, not the first branch's) draws from
    * more than one table — a JOIN keyword or a comma-separated table
    * list before the next clause keyword. Subqueries in FROM are one
    * "table" here (their own scope decides for themselves). */
  private def fromIsMultiTable(toks: Vector[Tok], from: Int): Boolean = {
    val fromIdx = depth0Word(toks, "from", from)
    if (fromIdx < 0) return false
    val endWords =
      Set("where", "group", "order", "having", "union", "limit")
    var depth = 0
    var i = fromIdx + 1
    while (i < toks.length) {
      val u = toks(i)
      if (u.kind == "punct" && u.text == "(") depth += 1
      else if (u.kind == "punct" && u.text == ")") depth -= 1
      else if (depth == 0 && u.kind == "word" &&
        endWords.contains(u.text.toLowerCase)) return false
      else if (depth == 0 && ((u.kind == "punct" && u.text == ",") ||
        (u.kind == "word" && u.text.equalsIgnoreCase("join"))))
        return true
      i += 1
    }
    false
  }

  /** Sanitized-lowercase key for uniqueKeys lookups (tables and
    * columns both migrate through [[JetTypes.sanitizeName]]; Jet
    * resolves names case-insensitively). */
  private def skey(s: String): String =
    JetTypes.sanitizeName(s).toLowerCase

  /** The sole table of this scope's depth-0 FROM with its alias, when
    * the FROM is a single bare table reference — None for multi-table,
    * subquery, db-qualified, or absent FROMs. */
  private def singleFromTable(toks: Vector[Tok])
      : Option[(String, Option[String])] = {
    if (fromIsMultiTable(toks, 0)) return None
    val fromIdx = depth0Word(toks, "from", 0)
    if (fromIdx < 0) return None
    val endWords =
      Set("where", "group", "order", "having", "union", "limit")
    val names = Vector.newBuilder[String]
    var i = fromIdx + 1
    var done = false
    while (i < toks.length && !done) {
      val u = toks(i)
      if (u.kind == "punct" && (u.text == "(" || u.text == "."))
        return None // subquery / db-qualified reference
      else if (u.kind == "word" && endWords.contains(u.text.toLowerCase))
        done = true
      else if (u.kind == "word" || u.kind == "ident") names += u.text
      i += 1
    }
    names.result() match {
      case Vector(t) => Some((t, None))
      case Vector(t, a) if !a.equalsIgnoreCase("as") => Some((t, Some(a)))
      case Vector(t, as0, a) if as0.equalsIgnoreCase("as") =>
        Some((t, Some(a)))
      case _ => None
    }
  }

  /** Whether a TOP scope's ORDER BY is PROVABLY duplicate-free: the
    * scope reads ONE bare table, and some caller-declared unique key
    * of that table (e.g. its primary key, from the .mdb TDEF's index
    * section) is contained in the ORDER BY's bare column set — then no
    * two output rows can tie on all keys and `LIMIT n` ≡ Access `TOP
    * n` exactly. The proof survives DISTINCT (projection keeps a
    * unique column's values distinct) and GROUP BY (a bare unique
    * column in ORDER BY must be a group key to analyze, making groups
    * unique on it); a JOIN voids it (a join can repeat a key value),
    * so any multi-table FROM answers false and takes the windowed
    * form. */
  private def topOrderUnique(toks: Vector[Tok], keyToks: Vector[Tok],
      uniqueKeys: Map[String, Seq[Set[String]]]): Boolean =
    singleFromTable(toks) match {
      case Some((t, alias)) =>
        val sets = uniqueKeys.getOrElse(skey(t), Nil)
        sets.nonEmpty && {
          val quals = Set(skey(t)) ++ alias.map(skey)
          // (name, wasBare): Access resolves a BARE ORDER BY name to
          // a select-list ALIAS first — an alias shadowing a unique-
          // key column name would fake the proof (r11 review:
          // `SELECT TOP 3 region AS pk … ORDER BY pk` actually sorts
          // the tying region), so any bare key colliding with an
          // alias voids the whole proof. A qualified `t.pk` cannot be
          // shadowed.
          val aliasNames = selectOutputs(toks)._2
          val parsed: Vector[Option[(String, Boolean)]] =
            orderKeys(keyToks).map {
              case (Vector(c), _) if nameOf(c).isDefined =>
                Some((skey(nameOf(c).get), true))
              case (Vector(q, d, c), _)
                if nameOf(q).isDefined && d.kind == "punct" &&
                  d.text == "." && nameOf(c).isDefined &&
                  quals.contains(skey(nameOf(q).get)) =>
                Some((skey(nameOf(c).get), false))
              case _ => None
            }
          val shadowed = parsed.flatten
            .exists { case (n, bare) => bare && aliasNames.contains(n) }
          !shadowed && {
            val cols = parsed.flatten.map(_._1).toSet
            sets.exists(ks => ks.nonEmpty && ks.map(skey).subsetOf(cols))
          }
        }
      case None => false
    }

  /** Identifier text of a token in NAME position: bare words,
    * sanitized `[idents]`, and the JDBC pass's pre-quoted raw idents
    * (`"a"` — translateForJdbc quotes BEFORE emit, so the TOP /
    * DISTINCTROW analyses must see through the quoting; r11 review). */
  private def nameOf(t: Tok): Option[String] = t.kind match {
    case "word" | "ident" => Some(t.text)
    case "raw"
      if t.text.length >= 2 && t.text.head == '"' &&
        t.text.last == '"' &&
        !t.text.substring(1, t.text.length - 1).contains('"') =>
      Some(t.text.substring(1, t.text.length - 1))
    case _ => None
  }

  /** ORDER BY keys as (expression tokens, rendered direction). */
  private def orderKeys(keyToks: Vector[Tok])
      : Vector[(Vector[Tok], String)] =
    splitArgs(keyToks).map { k0 =>
      val ks = k0.filter(_.kind != "ws")
      if (ks.nonEmpty && isWord(ks.last, "asc")) (ks.init, "")
      else if (ks.nonEmpty && isWord(ks.last, "desc")) (ks.init, " DESC")
      else (ks, "")
    }

  /** Token range of the scope's select list — after `SELECT
    * [DISTINCT|DISTINCTROW] [TOP n [PERCENT]]`, up to the depth-0
    * FROM (or scope end). None when the scope is not a SELECT. */
  private def selectListRange(toks: Vector[Tok]): Option[(Int, Int)] = {
    def next(j: Int): Int = {
      var i = j
      while (i < toks.length && toks(i).kind == "ws") i += 1
      i
    }
    val sel = next(0)
    if (sel >= toks.length || !isWord(toks(sel), "select")) return None
    var i = next(sel + 1)
    if (i < toks.length && (isWord(toks(i), "distinct") ||
      isWord(toks(i), "distinctrow"))) i = next(i + 1)
    if (i < toks.length && isWord(toks(i), "top")) {
      val n = next(i + 1)
      if (n < toks.length && toks(n).kind == "number") {
        val p = next(n + 1)
        i =
          if (p < toks.length && isWord(toks(p), "percent")) next(p + 1)
          else next(n + 1)
      }
    }
    val fromIdx = depth0Word(toks, "from", i)
    Some((i, if (fromIdx < 0) toks.length else fromIdx))
  }

  /** Statically-derivable facts about a scope's select list:
    * (output column names, the AS-alias subset — Access's ORDER BY
    * resolves aliases FIRST, so they shadow table columns —, whether
    * a `*` item makes every table column an output). All names skey'd;
    * an expression item without AS contributes no static name. */
  private def selectOutputs(toks: Vector[Tok])
      : (Set[String], Set[String], Boolean) =
    selectListRange(toks) match {
      case None => (Set.empty, Set.empty, false)
      case Some((s, e)) =>
        val items =
          splitArgs(toks.slice(s, e)).map(_.filter(_.kind != "ws"))
        var outs = Set.empty[String]
        var aliases = Set.empty[String]
        var star = false
        items.foreach { ts =>
          if (ts.length >= 3 && isWord(ts(ts.length - 2), "as") &&
            nameOf(ts.last).isDefined) {
            val a = skey(nameOf(ts.last).get)
            outs += a
            aliases += a
          } else ts match {
            case Vector(c) if nameOf(c).isDefined =>
              outs += skey(nameOf(c).get)
            case Vector(q, d, c)
              if nameOf(q).isDefined && d.kind == "punct" &&
                d.text == "." && nameOf(c).isDefined =>
              outs += skey(nameOf(c).get)
            case Vector(st) if st.kind == "punct" && st.text == "*" =>
              star = true
            case Vector(q, d, st)
              if nameOf(q).isDefined && d.kind == "punct" &&
                d.text == "." && st.kind == "punct" && st.text == "*" =>
              star = true
            case _ => () // expression without alias: no static name
          }
        }
        (outs, aliases, star)
    }

  /** skey(alias-or-table) → skey(table) for the depth-0 FROM clause's
    * table references (joins and comma lists included, parenthesized
    * join groups walked; each table also maps to itself). ON-clause
    * column refs are skipped; subqueries and db-qualified references
    * contribute nothing. A reference the scanner cannot classify is
    * simply absent — callers fall back to the unmapped name. */
  private def fromAliases(toks: Vector[Tok]): Map[String, String] = {
    val fromIdx = depth0Word(toks, "from", 0)
    if (fromIdx < 0) return Map.empty
    val endWords =
      Set("where", "group", "order", "having", "union", "limit")
    val joinWords = Set("inner", "left", "right", "full", "outer",
      "cross", "join", "on", "as", "and", "or", "not",
      // a subquery's own keywords must never read as table names
      "select", "distinct", "distinctrow", "top", "from")
    val out = Map.newBuilder[String, String]
    def next(j: Int): Int = {
      var i = j
      while (i < toks.length && toks(i).kind == "ws") i += 1
      i
    }
    var i = fromIdx + 1
    var prev = "from" // last meaningful lower-cased text
    var inOn = false
    var depth = 0
    // paren depth at which a SUBQUERY opened (-1 = not inside one):
    // a derived table's inner references must not leak into the
    // outer alias map — its records are NOT the base table's, so its
    // alias must not inherit the base table's unique keys (r11
    // review: FROM (SELECT … FROM t AS sub) AS sub silently lent
    // t's key to the derived table). Parenthesized JOIN groups (no
    // leading SELECT) still register normally.
    var subqDepth = -1
    while (i < toks.length && !(depth == 0 && toks(i).kind == "word" &&
      endWords.contains(toks(i).text.toLowerCase))) {
      val t = toks(i)
      if (t.kind == "punct" && t.text == "(") {
        depth += 1
        if (subqDepth < 0) {
          var j = i + 1
          while (j < toks.length && toks(j).kind == "ws") j += 1
          if (j < toks.length && isWord(toks(j), "select"))
            subqDepth = depth
        }
        prev = "("
      } else if (t.kind == "punct" && t.text == ")") {
        if (depth == subqDepth) subqDepth = -1
        depth -= 1
        if (depth < 0) return out.result() // FROM was inside a group
        prev = ")"
      } else if (t.kind == "punct" && t.text == ",") {
        prev = ","; inOn = false
      } else if (isWord(t, "on")) { inOn = true; prev = "on" }
      else if (isWord(t, "join")) { inOn = false; prev = "join" }
      else if (t.kind != "ws") {
        val tablePos = prev == "from" || prev == "join" ||
          prev == "," || prev == "("
        if (!inOn && subqDepth < 0 && tablePos && nameOf(t).isDefined &&
          !joinWords.contains(t.text.toLowerCase)) {
          val dotted = next(i + 1) < toks.length && {
            val d = toks(next(i + 1))
            d.kind == "punct" && d.text == "."
          }
          if (!dotted) {
            val table = skey(nameOf(t).get)
            out += table -> table
            // optional [AS] alias
            var j = next(i + 1)
            if (j < toks.length && isWord(toks(j), "as")) j = next(j + 1)
            if (j < toks.length && nameOf(toks(j)).isDefined &&
              !joinWords.contains(toks(j).text.toLowerCase) &&
              !endWords.contains(toks(j).text.toLowerCase) &&
              toks(j).kind != "punct") {
              out += skey(nameOf(toks(j)).get) -> table
              i = j // skip past the alias
            }
          }
        }
        prev = t.text.toLowerCase
      }
      i += 1
    }
    out.result()
  }

  /** Jet LIKE pattern → ANCHORED Java regex (Jet LIKE matches the
    * whole string). `*`→`.*`, `?`→`.`, `#`→`[0-9]`, `[charlist]`
    * passes through as a regex class (`[!…]` negation → `[^…]`,
    * ranges shared, class-special `\^]&[` escaped); every other
    * character is escaped when regex-special. Only reached on the
    * engine target, where the emitted operator is RLIKE. */
  private def jetLikeRegex(pat: String): String = {
    val sb = new StringBuilder("^")
    val meta = "\\^$.|?*+()[]{}"
    var i = 0
    while (i < pat.length) {
      pat.charAt(i) match {
        case '*' => sb.append(".*"); i += 1
        case '?' => sb.append('.'); i += 1
        case '#' => sb.append("[0-9]"); i += 1
        case '[' =>
          val close = pat.indexOf(']', i + 1)
          if (close < 0)
            fail("a Jet LIKE pattern with an unterminated [charlist")
          var body = pat.substring(i + 1, close)
          // Access treats [] as a zero-length never-match and [!]
          // as a literal '!' — both are trap spellings; loud beats
          // silently freezing an interpretation
          if (body.isEmpty || body == "!")
            fail(s"the Jet LIKE charlist [$body] (its Access " +
              "semantics are a never-match / literal-'!' trap)")
          sb.append('[')
          if (body.startsWith("!")) { sb.append('^'); body = body.tail }
          body.foreach { bc =>
            if ("\\^]&[".indexOf(bc.toInt) >= 0) sb.append('\\')
            sb.append(bc)
          }
          sb.append(']')
          i = close + 1
        case other =>
          if (meta.indexOf(other.toInt) >= 0) sb.append('\\')
          sb.append(other)
          i += 1
      }
    }
    sb.append('$').toString
  }

  /** First index ≥ `from` holding `word` at paren depth 0, or -1. */
  private def depth0Word(toks: Vector[Tok], word: String,
      from: Int = 0): Int = {
    var depth = 0
    var i = from
    while (i < toks.length) {
      val t = toks(i)
      if (t.kind == "punct" && t.text == "(") depth += 1
      else if (t.kind == "punct" && t.text == ")") depth -= 1
      else if (depth == 0 && isWord(t, word)) return i
      i += 1
    }
    -1
  }

  /** The single non-ws interval-code string of a date-fn first arg. */
  private def intervalCode(arg: Vector[Tok], fn: String): String = {
    val ts = arg.filter(_.kind != "ws")
    require(ts.length == 1 && ts.head.kind == "string",
      s"jetsql: $fn expects a string interval code as its first argument")
    ts.head.text.toLowerCase
  }

  /** Words that END an expression run for the `&`-chain rewrite —
    * SQL clause keywords and logical connectives. Jet's `&` binds
    * BELOW arithmetic (and `Mod`) but ABOVE nothing else relevant, so
    * arithmetic stays inside operands while comparisons and keywords
    * bound them. */
  private val runBoundaryWords = Set(
    "select", "from", "where", "and", "or", "not", "on", "group",
    "order", "by", "having", "as", "when", "then", "else", "end", "in",
    "like", "between", "is", "union", "all", "distinct", "set",
    "values", "insert", "into", "update", "delete", "top", "percent",
    "limit", "inner", "left", "right", "outer", "join", "asc", "desc",
    "pivot", "transform", "parameters")
  // word ONLY, never ident: a bracketed [Order]/[End]/[Top] is a
  // COLUMN by construction (Jet keywords are never bracketed), so it
  // must stay inside an &-chain operand, not break the run.
  private def isRunBoundary(t: Tok): Boolean =
    (t.kind == "word" &&
      runBoundaryWords.contains(t.text.toLowerCase)) ||
      (t.kind == "punct" && ",=<>;".contains(t.text))

  /** Boundary test with position context: LEFT/RIGHT are join
    * keywords AND string functions — they bound a run only when NOT
    * followed by `(` (a `Left(` is a call whose tokens must stay
    * inside the operand). */
  private def isRunBoundaryAt(toks: Vector[Tok], idx: Int): Boolean = {
    val t = toks(idx)
    if (!isRunBoundary(t)) return false
    val lc = t.text.toLowerCase
    if (lc != "left" && lc != "right") return true
    var j = idx + 1
    while (j < toks.length && toks(j).kind == "ws") j += 1
    !(j < toks.length && toks(j).kind == "punct" && toks(j).text == "(")
  }

  /** Jet `&` concat treats Null as "" (unlike ANSI `||`, which
    * propagates NULL), so every depth-0 `&`-chain rewrites to
    * `concat_ws('', …)` — null-SKIPPING in Spark and DuckDB alike.
    * Operand boundaries honor Jet precedence: each maximal expression
    * run between clause keywords / commas / comparison operators
    * splits at its depth-0 `&`s; arithmetic and `Mod` bind tighter
    * and stay inside operands. A pattern built by `&` directly after
    * LIKE rejects — its wildcards could no longer be translated. */
  private def ampRewrite(toks: Vector[Tok],
      jdbc: Boolean): Vector[Tok] = {
    if (!toks.exists(t => t.kind == "punct" && t.text == "&")) return toks
    val out = Vector.newBuilder[Tok]
    var i = 0
    var lastBoundary: Option[Tok] = None
    while (i < toks.length) {
      val t = toks(i)
      if (t.kind == "ws" || isRunBoundaryAt(toks, i)) {
        if (t.kind != "ws") lastBoundary = Some(t)
        out += t
        i += 1
      } else {
        // the maximal run from i to the next depth-0 boundary
        var depth = 0
        var j = i
        var hasAmp = false
        while (j < toks.length &&
          (depth > 0 || !isRunBoundaryAt(toks, j))) {
          val u = toks(j)
          if (u.kind == "punct" && u.text == "(") depth += 1
          else if (u.kind == "punct" && u.text == ")") depth -= 1
          else if (depth == 0 && u.kind == "punct" && u.text == "&")
            hasAmp = true
          j += 1
        }
        val run0 = toks.slice(i, j)
        // trailing whitespace separates the run from the next
        // boundary keyword — keep it outside the replacement
        val trailWs = run0.reverseIterator.takeWhile(_.kind == "ws").length
        val run = run0.dropRight(trailWs)
        if (!hasAmp) run0.foreach(out += _)
        else {
          if (lastBoundary.exists(isWord(_, "like")))
            fail("a LIKE pattern built by & concatenation (its " +
              "wildcards can no longer be translated textually — " +
              "rewrite with a literal pattern or regexp_like)")
          // split the run at its depth-0 &s; emit each operand in its
          // own scope
          val ops = Vector.newBuilder[Vector[Tok]]
          var d = 0
          var cur = Vector.newBuilder[Tok]
          run.foreach { u =>
            if (u.kind == "punct" && u.text == "(") { d += 1; cur += u }
            else if (u.kind == "punct" && u.text == ")") { d -= 1; cur += u }
            else if (d == 0 && u.kind == "punct" && u.text == "&") {
              ops += cur.result(); cur = Vector.newBuilder[Tok]
            } else cur += u
          }
          ops += cur.result()
          val parts = ops.result().map(o => emit(o, jdbc))
          require(parts.forall(_.nonEmpty),
            "jetsql: & with a missing operand")
          // Spark/DuckDB: concat_ws skips NULLs like Jet's &. JDBC
          // targets (Derby has no concat_ws): portable COALESCE + ||.
          out += Tok("raw",
            if (jdbc) parts.map(x => s"COALESCE($x, '')")
              .mkString("(", " || ", ")")
            else parts.mkString("concat_ws('', ", ", ", ")"))
          run0.takeRight(trailWs).foreach(out += _)
        }
        lastBoundary = None
        i = j
      }
    }
    out.result()
  }

  /** The [start, end] token span of the PRIMARY ending at `end`
    * (inclusive, `end` non-ws): a literal/ident/raw, a parenthesized
    * group, or a call (word/ident + parens). Used by the infix
    * rewrites to grab tight-binding operands. */
  private def primaryStart(toks: Vector[Tok], end: Int): Int = {
    def prevNonWs(from: Int): Int = {
      var j = from
      while (j >= 0 && toks(j).kind == "ws") j -= 1
      j
    }
    val s0 = toks(end) match {
      case Tok("punct", ")") =>
        var d = 0
        var j = end
        var open = -1
        while (j >= 0 && open < 0) {
          val u = toks(j)
          if (u.kind == "punct" && u.text == ")") d += 1
          else if (u.kind == "punct" && u.text == "(") {
            d -= 1
            if (d == 0) open = j
          }
          j -= 1
        }
        if (open < 0) fail("unbalanced parentheses in an operand")
        val w = prevNonWs(open - 1)
        if (w >= 0 && (toks(w).kind == "word" || toks(w).kind == "ident")
            && !runBoundaryWords.contains(toks(w).text.toLowerCase))
          w // a call: the word owns its parens
        else open
      case t if t.kind == "number" || t.kind == "string" ||
          t.kind == "ident" || t.kind == "word" || t.kind == "date" ||
          t.kind == "raw" => end
      case t =>
        fail(s"'${t.text}' where the exponent/integer-division " +
          "rewrite expected a value operand")
    }
    // absorb dot-QUALIFIED references leftward: `t.a` / `[T].[a]` is
    // one primary, not a dot away from a bare `a`
    var s = s0
    var qualified = true
    while (qualified) {
      qualified = false
      if (toks(s).kind == "word" || toks(s).kind == "ident") {
        val dot = prevNonWs(s - 1)
        if (dot >= 0 && toks(dot).kind == "punct" &&
          toks(dot).text == ".") {
          val q = prevNonWs(dot - 1)
          if (q >= 0 && (toks(q).kind == "word" ||
            toks(q).kind == "ident")) {
            s = q
            qualified = true
          }
        }
      }
    }
    s
  }

  /** The end (inclusive) of the PRIMARY starting at `start` (non-ws):
    * mirrors [[primaryStart]] in the forward direction. */
  private def primaryEnd(toks: Vector[Tok], start: Int): Int = {
    def nextNonWs(from: Int): Int = {
      var j = from
      while (j < toks.length && toks(j).kind == "ws") j += 1
      j
    }
    val e0 = toks(start) match {
      case Tok("punct", "(") => closeOf(toks, start)
      case t if t.kind == "word" || t.kind == "ident" =>
        val nn = nextNonWs(start + 1)
        if (nn < toks.length && toks(nn).kind == "punct" &&
          toks(nn).text == "(") closeOf(toks, nn)
        else start
      case t if t.kind == "number" || t.kind == "string" ||
          t.kind == "date" || t.kind == "raw" => start
      case t =>
        fail(s"'${t.text}' where the exponent/integer-division " +
          "rewrite expected a value operand")
    }
    // absorb dot-QUALIFIED references rightward (`t.a` is one
    // primary) — mirrors primaryStart
    var e = e0
    var qualified = true
    while (qualified) {
      qualified = false
      if (toks(e).kind == "word" || toks(e).kind == "ident") {
        val dot = nextNonWs(e + 1)
        if (dot < toks.length && toks(dot).kind == "punct" &&
          toks(dot).text == ".") {
          val n = nextNonWs(dot + 1)
          if (n < toks.length && (toks(n).kind == "word" ||
            toks(n).kind == "ident")) {
            e = n
            qualified = true
          }
        }
      }
    }
    e
  }

  /** Jet's `^` is the EXPONENT operator; Spark's `^` is bitwise
    * XOR — the one infix collision where a passthrough silently
    * computes a DIFFERENT function on every row. In VBA `^` binds
    * tightest of the arithmetic operators (above unary minus:
    * -2^2 = -4; left-associative), so both operands are PRIMARIES
    * (the right side may carry its own unary sign: 2^-3). Each
    * depth-0 `L ^ R` becomes power(L, R) — nested carets are
    * handled by the paren/call emit recursion. VBA `^` computes in
    * Double exactly as power() does; it differs only where VBA
    * itself errors (negative base, fractional exponent → NaN here).
    * JDBC targets reject (Derby has no POWER). */
  private def caretRewrite(toks0: Vector[Tok], jdbc: Boolean)
      : Vector[Tok] = {
    def isCaret(t: Tok) = t.kind == "punct" && t.text == "^"
    if (!toks0.exists(isCaret)) return toks0
    var cur = toks0
    var again = true
    while (again) {
      again = false
      var depth = 0
      var ci = -1
      var i = 0
      while (i < cur.length && ci < 0) {
        val t = cur(i)
        if (t.kind == "punct" && t.text == "(") depth += 1
        else if (t.kind == "punct" && t.text == ")") depth -= 1
        else if (depth == 0 && isCaret(t)) ci = i
        i += 1
      }
      if (ci >= 0) {
        if (jdbc)
          fail("the ^ exponent operator on a JDBC target (Derby " +
            "has no POWER function — spell the arithmetic in the " +
            "target dialect)")
        def prevNonWs(from: Int): Int = {
          var j = from
          while (j >= 0 && cur(j).kind == "ws") j -= 1
          j
        }
        def nextNonWs(from: Int): Int = {
          var j = from
          while (j < cur.length && cur(j).kind == "ws") j += 1
          j
        }
        val pe = prevNonWs(ci - 1)
        if (pe < 0) fail("^ with a missing left operand")
        val ls = primaryStart(cur, pe)
        var rs = nextNonWs(ci + 1)
        if (rs >= cur.length) fail("^ with a missing right operand")
        val rStart = rs
        if (cur(rs).kind == "punct" &&
          (cur(rs).text == "-" || cur(rs).text == "+")) {
          rs = nextNonWs(rs + 1)
          if (rs >= cur.length) fail("^ with a missing right operand")
        }
        val re = primaryEnd(cur, rs)
        val left = cur.slice(ls, pe + 1)
        val right = cur.slice(rStart, re + 1)
        cur = (cur.take(ls) :+ Tok("word", "power") :+
          Tok("punct", "(")) ++ left ++ Vector(Tok("punct", ",")) ++
          right ++ Vector(Tok("punct", ")")) ++ cur.drop(re + 1)
        again = true
      }
    }
    cur
  }

  /** Jet's `\` is INTEGER division with VBA's two-step rule: both
    * operands round to integers FIRST (banker's — 7.5 \ 2 divides
    * 8 by 2), then the division truncates toward zero (Spark's DIV).
    * In VBA precedence `\` sits between multiplication and Mod, so
    * each operand is a maximal run of primaries joined by * or /
    * (unary minus stays OUTSIDE — value-equivalent, since both
    * BROUND and truncating division are odd). The rewrite emits a
    * parenthesized raw, so surrounding Mod/+/- precedence is
    * preserved explicitly. JDBC targets reject (no banker's
    * pre-rounding in Derby). */
  private def intDivRewrite(toks0: Vector[Tok], jdbc: Boolean,
      uniqueKeys: Map[String, Seq[Set[String]]]): Vector[Tok] = {
    def isBack(t: Tok) = t.kind == "punct" && t.text == "\\"
    if (!toks0.exists(isBack)) return toks0
    var cur = toks0
    var again = true
    while (again) {
      again = false
      var depth = 0
      var ci = -1
      var i = 0
      while (i < cur.length && ci < 0) {
        val t = cur(i)
        if (t.kind == "punct" && t.text == "(") depth += 1
        else if (t.kind == "punct" && t.text == ")") depth -= 1
        else if (depth == 0 && isBack(t)) ci = i
        i += 1
      }
      if (ci >= 0) {
        if (jdbc)
          fail("the \\ integer-division operator on a JDBC target " +
            "(VBA banker's-rounds the operands first — no portable " +
            "equivalent; spell the arithmetic in the target dialect)")
        def prevNonWs(from: Int): Int = {
          var j = from
          while (j >= 0 && cur(j).kind == "ws") j -= 1
          j
        }
        def nextNonWs(from: Int): Int = {
          var j = from
          while (j < cur.length && cur(j).kind == "ws") j += 1
          j
        }
        def isMulDiv(t: Tok) =
          t.kind == "punct" && (t.text == "*" || t.text == "/")
        def isSign(t: Tok) =
          t.kind == "punct" && (t.text == "-" || t.text == "+")
        // LEFT: primaries joined by * or /, each with an optional
        // UNARY sign (a sign is unary when what precedes it is an
        // operator/keyword/start, not a value) — `3 * -2 \ 4`
        // divides -6, not -(2\4)
        val pe = prevNonWs(ci - 1)
        if (pe < 0) fail("\\ with a missing left operand")
        var ls = primaryStart(cur, pe)
        var more = true
        while (more) {
          val op = prevNonWs(ls - 1)
          if (op >= 0 && isSign(cur(op))) {
            val b = prevNonWs(op - 1)
            val unary = b < 0 ||
              (cur(b).kind == "punct" && cur(b).text != ")") ||
              (cur(b).kind == "word" &&
                runBoundaryWords.contains(cur(b).text.toLowerCase))
            if (unary) ls = op else more = false
          } else if (op >= 0 && isMulDiv(cur(op))) {
            val p = prevNonWs(op - 1)
            if (p < 0) fail("\\ with a malformed left operand")
            ls = primaryStart(cur, p)
          } else more = false
        }
        // RIGHT: [sign] primaries joined by * or / (tighter than \),
        // signs allowed after each joiner too
        var rs = nextNonWs(ci + 1)
        if (rs >= cur.length) fail("\\ with a missing right operand")
        val rStart = rs
        if (isSign(cur(rs)))
          rs = nextNonWs(rs + 1)
        if (rs >= cur.length) fail("\\ with a missing right operand")
        var re = primaryEnd(cur, rs)
        more = true
        while (more) {
          val op = nextNonWs(re + 1)
          if (op < cur.length && isMulDiv(cur(op))) {
            var p = nextNonWs(op + 1)
            if (p < cur.length && isSign(cur(p)))
              p = nextNonWs(p + 1)
            if (p >= cur.length)
              fail("\\ with a malformed right operand")
            re = primaryEnd(cur, p)
          } else more = false
        }
        val left = emit(cur.slice(ls, pe + 1), jdbc, uniqueKeys)
        val right = emit(cur.slice(rStart, re + 1), jdbc, uniqueKeys)
        cur = (cur.take(ls) :+ Tok("raw",
          s"(CAST(BROUND($left) AS BIGINT) DIV " +
            s"CAST(BROUND($right) AS BIGINT))")) ++ cur.drop(re + 1)
        again = true
      }
    }
    cur
  }

  /** OPT-IN Jet DATABASE-ORDER text comparisons (`textOrder = true`
    * on the entry points): Access's default sort order compares text
    * CASE-INSENSITIVELY — `name = "smith"` matches "Smith", and LIKE
    * follows suit. This translator's DEFAULT is binary comparison
    * (pinned oracle behavior since round 1, and the standard choice
    * when porting Access to a case-sensitive engine); with the flag,
    * the comparisons a schema-blind rewrite can PROVE are text —
    * those whose operand IS a string literal — rewrite
    * case-insensitively: `=` / `<>` wrap the non-literal side in
    * LOWER() (ANSI — portable to the JDBC targets) and lowercase the
    * literal at translate time; `[NOT] LIKE` lowers the scrutinee and
    * the pattern (wildcards and charlist ranges lowercase soundly —
    * the match runs against the lowered text). The documented-subset
    * edges stay BINARY: literals welded into larger expressions
    * (`x = "A" & s` — the literal is not the operand), ordering
    * comparisons (< > <= >=), GROUP BY/DISTINCT merging, and
    * comparisons between two non-literals. SET assignments never
    * rewrite (assignment, not comparison). ASCII-faithful; CP1252
    * accents follow Java's lowercase, close to but not identical
    * with Access's sort table. */
  private def textOrderRewrite(toks0: Vector[Tok], jdbc: Boolean,
      uniqueKeys: Map[String, Seq[Set[String]]]): Vector[Tok] = {
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    var cur = toks0
    var changed = true
    while (changed) {
      changed = false
      def nextNW(from: Int): Int = {
        var j = from
        while (j < cur.length && cur(j).kind == "ws") j += 1
        j
      }
      def prevNW(from: Int): Int = {
        var j = from
        while (j >= 0 && cur(j).kind == "ws") j -= 1
        j
      }
      def isArith(t: Tok) = t.kind == "punct" && t.text.length == 1 &&
        "+-*/\\^&".contains(t.text)
      var inSet = false
      var d0 = 0
      var i = 0
      while (i < cur.length && !changed) {
        val t = cur(i)
        if (t.kind == "punct" && t.text == "(") d0 += 1
        else if (t.kind == "punct" && t.text == ")") d0 -= 1
        else if (t.kind == "word" && d0 == 0) {
          val w = t.text.toLowerCase
          if (w == "set") inSet = true
          else if (w == "where" || w == "select") inSet = false
        }
        val isEq = t.kind == "punct" && t.text == "="
        val isNe = t.kind == "punct" && t.text == "<" &&
          i + 1 < cur.length && cur(i + 1).kind == "punct" &&
          cur(i + 1).text == ">"
        val isLike = isWord(t, "like")
        if ((isEq && !(inSet && d0 == 0)) || isNe || isLike) {
          val opEnd = if (isNe) i + 1 else i
          var pi = prevNW(i - 1)
          if (isLike && pi >= 0 && isWord(cur(pi), "not"))
            pi = prevNW(pi - 1)
          val ri = nextNW(opEnd + 1)
          if (pi >= 0 && ri < cur.length) {
            val bounds = try {
              Some((primaryStart(cur, pi), primaryEnd(cur, ri)))
            } catch { case _: RuntimeException => None }
            bounds.foreach { case (ls, re) =>
              val lB = prevNW(ls - 1)
              val rA = nextNW(re + 1)
              val standalone =
                (lB < 0 || !isArith(cur(lB))) &&
                  (rA >= cur.length || !isArith(cur(rA)))
              val leftLit = ls == pi && cur(pi).kind == "string"
              val rightLit = ri == re && cur(ri).kind == "string"
              def lowerWrap(from: Int, to: Int): Tok =
                Tok("raw", "LOWER(" +
                  emit(cur.slice(from, to + 1), jdbc, uniqueKeys) + ")")
              if (isLike && rightLit && standalone &&
                !(ls == pi && cur(pi).kind == "raw")) {
                val newLeft =
                  if (leftLit)
                    Tok("raw", render(Tok("string", lc(cur(pi).text))))
                  else lowerWrap(ls, pi)
                // the pattern KEEPS kind "string": the LIKE emit
                // handler still translates its wildcards
                cur = cur.take(ls) ++ Vector(newLeft) ++
                  cur.slice(pi + 1, ri) ++
                  Vector(Tok("string", lc(cur(ri).text))) ++
                  cur.drop(re + 1)
                changed = true
              } else if (!isLike && (leftLit || rightLit) &&
                standalone) {
                val newLeft =
                  if (leftLit)
                    Tok("raw", render(Tok("string", lc(cur(pi).text))))
                  else lowerWrap(ls, pi)
                val newRight =
                  if (rightLit)
                    Tok("raw", render(Tok("string", lc(cur(ri).text))))
                  else lowerWrap(ri, re)
                cur = cur.take(ls) ++ Vector(newLeft) ++
                  cur.slice(pi + 1, ri) ++ Vector(newRight) ++
                  cur.drop(re + 1)
                changed = true
              }
            }
          }
        }
        i += 1
      }
    }
    cur
  }

  /** Rewrite a token stream to ANSI text (recursive for IIF/NZ/date
    * functions). Spacing is handled at TOKEN level (a
    * pending-separator flag), so a multi-space run inside a translated
    * STRING LITERAL survives — a string-level whitespace collapse
    * would corrupt literal content. */
  private def emit(toks0: Vector[Tok], jdbc: Boolean = false,
      uniqueKeys: Map[String, Seq[Set[String]]] = Map.empty): String = {
    val toks = intDivRewrite(
      caretRewrite(ampRewrite(toks0, jdbc), jdbc), jdbc, uniqueKeys)
    def em(ts: Vector[Tok]): String = emit(ts, jdbc, uniqueKeys)
    val sb = new StringBuilder
    var pendingSpace = false
    def put(text: String): Unit = {
      if (pendingSpace && sb.nonEmpty) sb.append(' ')
      pendingSpace = false
      sb.append(text)
    }
    var i = 0
    var limit: Option[String] = None
    var lastWord: String = ""
    def nextNonWs(from: Int): Int = {
      var j = from
      while (j < toks.length && toks(j).kind == "ws") j += 1
      j
    }
    // The (open, close, args) of a call form at `i`, if one follows.
    def callAt(i: Int): Option[(Int, Int, Vector[Vector[Tok]])] = {
      val open = nextNonWs(i + 1)
      if (open < toks.length && toks(open).text == "(" &&
        toks(open).kind == "punct") {
        val close = closeOf(toks, open)
        Some((open, close, splitArgs(toks.slice(open + 1, close))))
      } else None
    }
    // --- Scope rebasing for the SELECT pre-passes: an INSERT INTO …
    // SELECT action query carries the same TOP / DISTINCTROW
    // semantics on its SELECT as a standalone one (Access treats the
    // SELECT identically in both positions — r11 review: the append
    // form silently kept the tie-cutting LIMIT and skipped the JDBC
    // uniqueness check), so both pre-passes operate on the
    // statement's leading depth-0 SELECT scope and the INSERT header
    // is re-emitted in front of any rewrite.
    val scopeStart: Int = {
      val first = nextNonWs(0)
      if (first < toks.length && isWord(toks(first), "insert")) {
        val s = depth0Word(toks, "select", first + 1)
        if (s >= 0) s else toks.length
      } else 0
    }
    val ptoks = toks.drop(scopeStart)
    def pfx: String =
      if (scopeStart == 0) "" else em(toks.take(scopeStart)) + " "
    def pnext(from: Int): Int = {
      var j = from
      while (j < ptoks.length && ptoks(j).kind == "ws") j += 1
      j
    }
    // select-list facts of the scope, for the tie-aware TOP rewrites
    // (computed lazily — most statements never reach that path)
    lazy val scopeOutputs = selectOutputs(ptoks)
    // an ORDER BY key the WRAPPING query can reference: a bare name
    // that is an output column of the scope (or the scope projects *)
    def outerResolvable(expr: Vector[Tok]): Boolean = expr match {
      case Vector(c) => nameOf(c).exists(n =>
        scopeOutputs._3 || scopeOutputs._1.contains(skey(n)))
      case _ => false
    }
    // Access's tie-aware TOP: rank the scope's rows on the ORDER BY
    // keys, keep rank ≤ bound — boundary tie groups come whole. A key
    // that is an output column ranks in a plain wrapper; anything
    // else (a qualified ref, a non-projected column, an expression)
    // is projected into the inner scope as __jet_kN so it resolves
    // where Access resolved it — IN the original scope (a bare
    // wrapper loses table qualifiers and non-output columns: r11
    // review, `ORDER BY t.a` broke at view registration). DISTINCT
    // scopes cannot grow their select list (that would change the
    // dedup), so there the keys must already BE output columns — a
    // single-table qualifier is stripped (q.c ≡ c when q is the
    // scope's only table), anything else rejects loudly.
    def tieAwareTop(keyToks: Vector[Tok], topIdx: Int, afterTop: Int,
        orderIdx: Int, hasDistinct: Boolean, needCount: Boolean,
        bound: String): String = {
      val keys = orderKeys(keyToks)
      require(keys.nonEmpty && keys.forall(_._1.nonEmpty),
        "jetsql: empty ORDER BY key in a tie-aware TOP")
      val resolved: Vector[(Vector[Tok], String)] =
        if (!hasDistinct) keys
        else keys.map {
          case (e, dir) if outerResolvable(e) => (e, dir)
          case (Vector(q, dot, c), dir)
            if dot.kind == "punct" && dot.text == "." &&
              nameOf(q).isDefined && nameOf(c).isDefined &&
              singleFromTable(ptoks).exists { case (t, a) =>
                val qs = skey(nameOf(q).get)
                qs == skey(t) || a.exists(x => skey(x) == qs)
              } && outerResolvable(Vector(c)) =>
            (Vector(c), dir)
          case _ =>
            fail("a tie-aware DISTINCT TOP whose ORDER BY key is " +
              "not an output column (Access requires DISTINCT's " +
              "ORDER BY fields in the select list; spell the output " +
              "name, or declare the table's unique key via uniqueKeys)")
        }
      val bodyToks =
        ptoks.slice(0, topIdx) ++ ptoks.slice(afterTop, orderIdx)
      val extended = resolved.zipWithIndex
        .filterNot { case ((e, _), _) => outerResolvable(e) }
      val inner =
        if (extended.isEmpty) em(bodyToks)
        else {
          val fIdx = depth0Word(bodyToks, "from", 0)
          require(fIdx > 0, "jetsql: tie-aware TOP without a FROM")
          em(bodyToks.take(fIdx)) +
            extended.map { case ((e, _), ix) =>
              s", ${em(e)} AS __jet_k$ix"
            }.mkString +
            " " + em(bodyToks.drop(fIdx))
        }
      val keyRefs = resolved.zipWithIndex.map { case ((e, dir), ix) =>
        (if (outerResolvable(e)) em(e) else s"__jet_k$ix") + dir
      }.mkString(", ")
      val except = (extended.map { case (_, ix) => s"__jet_k$ix" } :+
        "__jet_rk") ++ (if (needCount) Seq("__jet_n") else Nil)
      s"SELECT * EXCEPT (${except.mkString(", ")}) FROM (SELECT *, " +
        s"RANK() OVER (ORDER BY $keyRefs) AS __jet_rk" +
        (if (needCount) ", COUNT(*) OVER () AS __jet_n" else "") +
        s" FROM ($inner)) WHERE __jet_rk <= $bound ORDER BY $keyRefs"
    }
    // --- TOP n PERCENT pre-pass: a scope-leading `SELECT [DISTINCT]
    // TOP n PERCENT` restructures the WHOLE scope into Access's
    // tie-aware form — rank ≤ ceil(pct of count), boundary ties
    // included — which LIMIT cannot express. Engine target only: the
    // rewrite leans on Spark's RANK() / `SELECT * EXCEPT` surface
    // (JDBC targets reject; Derby has neither). The two global
    // windows are the operation's nature (a global percentile needs a
    // global order); the engine-side q_jet_top_percent operator is
    // the scale path for big inputs.
    {
      val selIdx = pnext(0)
      if (selIdx < ptoks.length && isWord(ptoks(selIdx), "select")) {
        val d = pnext(selIdx + 1)
        // keyword present vs DISTINCT semantics: Access IGNORES
        // DISTINCTROW over a single-table FROM (the main loop drops
        // it), so only multi-table DISTINCTROW restricts the
        // tie-aware ORDER BY keys the way DISTINCT does (r11 review:
        // the single-table designer-default shape was wrongly
        // rejected for a non-output key)
        val hasDedupKw = d < ptoks.length &&
          (isWord(ptoks(d), "distinct") ||
            isWord(ptoks(d), "distinctrow"))
        val hasDistinct = d < ptoks.length &&
          (isWord(ptoks(d), "distinct") ||
            (isWord(ptoks(d), "distinctrow") &&
              fromIsMultiTable(ptoks, 0)))
        val topIdx = if (hasDedupKw) pnext(d + 1) else d
        val nIdx =
          if (topIdx < ptoks.length) pnext(topIdx + 1)
          else ptoks.length
        val pIdx =
          if (nIdx < ptoks.length) pnext(nIdx + 1) else ptoks.length
        // shared by both TOP rewrites: a depth-0 bare number in the
        // keys would be POSITIONAL in Access but a CONSTANT inside
        // RANK's OVER in Spark — a silent semantics flip; reject
        def rejectPositionalKeys(keyToks: Vector[Tok]): Unit = {
          var kd = 0
          keyToks.foreach { u =>
            if (u.kind == "punct" && u.text == "(") kd += 1
            else if (u.kind == "punct" && u.text == ")") kd -= 1
            else if (kd == 0 && u.kind == "number")
              fail("a tie-aware TOP with a positional/arithmetic " +
                "ORDER BY key (spell the column name)")
          }
        }
        if (topIdx < ptoks.length && isWord(ptoks(topIdx), "top") &&
          nIdx < ptoks.length && ptoks(nIdx).kind == "number" &&
          pIdx < ptoks.length && isWord(ptoks(pIdx), "percent")) {
          if (jdbc)
            fail("TOP n PERCENT on a JDBC target (the tie-aware " +
              "rewrite needs RANK()/SELECT * EXCEPT — port through " +
              "the engine, or apply q_jet_top_percent's windowed " +
              "form in the target's dialect)")
          if (hasDepth0Union(ptoks))
            fail("TOP n PERCENT in a scope containing UNION " +
              "(parenthesize the branch so the rewrite has its own " +
              "single-SELECT scope)")
          val pct = ptoks(nIdx).text
          require(pct.toDouble >= 0 && pct.toDouble <= 100,
            s"jetsql: TOP $pct PERCENT is outside Access's 0..100")
          val orderIdx = depth0Word(ptoks, "order", pIdx + 1)
          if (orderIdx < 0)
            fail("TOP n PERCENT without ORDER BY (Access would " +
              "return an arbitrary slice)")
          val byIdx = pnext(orderIdx + 1)
          require(byIdx < ptoks.length && isWord(ptoks(byIdx), "by"),
            "jetsql: ORDER without BY")
          val keyToks = ptoks.drop(byIdx + 1)
          rejectPositionalKeys(keyToks)
          return pfx + tieAwareTop(keyToks, topIdx, pIdx + 1, orderIdx,
            hasDistinct, needCount = true,
            bound = s"CEILING(__jet_n * $pct / 100.0)")
        } else if (topIdx < ptoks.length && isWord(ptoks(topIdx), "top") &&
          nIdx < ptoks.length && ptoks(nIdx).kind == "number" &&
          !hasDepth0Union(ptoks)) {
          // --- plain TOP n: Access includes the WHOLE boundary tie
          // group (the nth row's full ORDER BY key tuple), which LIMIT
          // cuts — so with an ORDER BY whose keys are NOT provably
          // duplicate-free this emits the same tie-aware RANK() ≤ n
          // windowed form as TOP n PERCENT. The LIMIT fast path (a
          // trailing LIMIT, TakeOrdered on the engine — no global
          // window) is kept exactly when ties are impossible: no ORDER
          // BY at all (Access returns an arbitrary slice; LIMIT is as
          // faithful), or a caller-declared unique key of the scope's
          // single table inside the ORDER BY columns (uniqueKeys —
          // migrateJetMdbApp derives it from the .mdb's own unique
          // indexes). A UNION scope falls through to the main loop's
          // rejection.
          val orderIdx = depth0Word(ptoks, "order", nIdx + 1)
          if (orderIdx >= 0) {
            val byIdx = pnext(orderIdx + 1)
            require(byIdx < ptoks.length && isWord(ptoks(byIdx), "by"),
              "jetsql: ORDER without BY")
            val keyToks = ptoks.drop(byIdx + 1)
            if (!topOrderUnique(ptoks, keyToks, uniqueKeys)) {
              if (jdbc)
                fail("TOP n over a not-provably-unique ORDER BY on a " +
                  "JDBC target (Access keeps whole boundary tie " +
                  "groups; the tie-aware rewrite needs RANK()/SELECT " +
                  "* EXCEPT — declare the table's unique key via " +
                  "uniqueKeys, add a unique key column to the ORDER " +
                  "BY, or port through the engine)")
              rejectPositionalKeys(keyToks)
              val n = ptoks(nIdx).text
              return pfx + tieAwareTop(keyToks, topIdx, nIdx + 1,
                orderIdx, hasDistinct, needCount = false, bound = n)
            }
          }
        }
      }
    }
    // --- DISTINCTROW translatable-subset pre-pass: multi-table
    // DISTINCTROW whose OUTPUT columns all come from ONE table is the
    // common Access-designer shape (the other tables only
    // join-filter), and IS expressible — dedup on the output table's
    // RECORD identity:
    //   * the output carries a declared unique key of that table
    //     (`t.*`, or the key columns listed) → SELECT DISTINCT
    //     (output-level dedup equals record-level dedup once a key
    //     rides along);
    //   * otherwise, with a unique key declared via uniqueKeys →
    //     GROUP BY output-columns + key (one row per matched record;
    //     plain ANSI, so JDBC targets keep it too);
    //   * no declared key → reject (record identity is unprovable —
    //     DISTINCT could merge two records that agree on the output
    //     columns, a silent row-count change).
    // The general form (output fields drawn from several tables)
    // falls through to the main loop's rejection: eliminating
    // duplicates over non-output source records has no ANSI twin.
    {
      val selIdx = pnext(0)
      val dIdx =
        if (selIdx < ptoks.length && isWord(ptoks(selIdx), "select"))
          pnext(selIdx + 1)
        else ptoks.length
      if (dIdx < ptoks.length && isWord(ptoks(dIdx), "distinctrow") &&
        fromIsMultiTable(ptoks, 0) && !hasDepth0Union(ptoks) &&
        depth0Word(ptoks, "group", dIdx + 1) < 0 &&
        depth0Word(ptoks, "having", dIdx + 1) < 0) {
        val fromIdx = depth0Word(ptoks, "from", dIdx + 1)
        require(fromIdx > dIdx, "jetsql: SELECT without FROM")
        // the select list begins PAST any TOP n (r11 review: TOP
        // tokens in the first item made colRef fail, so the subset
        // pre-pass silently never fired and the error blamed
        // multi-table output fields)
        val selStart = selectListRange(ptoks).map(_._1).getOrElse(dIdx + 1)
        // TOP n in a surviving multi-table DISTINCTROW scope implies
        // NO depth-0 ORDER BY (a tie-aware TOP was already rewritten
        // by the pre-pass above; a provably-unique one needs a
        // single-table FROM, which this scope is not) — Access
        // semantics are dedup-then-arbitrary-n, so the LIMIT must
        // land AFTER the appended GROUP BY, not where the main loop
        // would put it
        val topN: Option[String] = {
          val ts = ptoks.slice(dIdx + 1, selStart)
            .filter(_.kind != "ws")
          ts match {
            case Vector(t, n) if isWord(t, "top") && n.kind == "number" =>
              Some(n.text)
            case _ => None
          }
        }
        val items = splitArgs(ptoks.slice(selStart, fromIdx))
          .map(_.filter(_.kind != "ws"))
        // q and c: words, sanitized idents, or (JDBC path) pre-quoted
        // raw idents — nameOf sees through all three (r11 review: the
        // JDBC quoting pass ran before emit, so bracketed columns
        // never matched here and the declared-uniqueKeys remedy could
        // not work on JDBC targets)
        def colRef(ts: Vector[Tok]): Option[(Tok, Option[Tok])] =
          ts match {
            // q.c | q.c AS a | q.c a  (alias irrelevant to grouping)
            // | q.*
            case Vector(q, d, c)
              if nameOf(q).isDefined &&
                d.kind == "punct" && d.text == "." =>
              if (nameOf(c).isDefined) Some((q, Some(c)))
              else if (c.kind == "punct" && c.text == "*") Some((q, None))
              else None
            case Vector(q, d, c, a)
              if nameOf(q).isDefined &&
                d.kind == "punct" && d.text == "." &&
                nameOf(c).isDefined && nameOf(a).isDefined &&
                !a.text.equalsIgnoreCase("as") => Some((q, Some(c)))
            case Vector(q, d, c, as0, a)
              if nameOf(q).isDefined &&
                d.kind == "punct" && d.text == "." &&
                nameOf(c).isDefined &&
                as0.kind == "word" && as0.text.equalsIgnoreCase("as") &&
                nameOf(a).isDefined => Some((q, Some(c)))
            case _ => None
          }
        val refs = items.map(colRef)
        val quals = refs.flatten.map(r => skey(nameOf(r._1).get)).distinct
        if (refs.forall(_.isDefined) && quals.size == 1) {
          val qTok = refs.head.get._1
          // the output qualifier may be a table ALIAS — the unique-key
          // catalog is keyed by TABLE name, so resolve through the
          // FROM clause (r11 review: `FROM t AS x … SELECT
          // DISTINCTROW x.a` rejected despite t's declared key)
          val tblKey = fromAliases(ptoks).getOrElse(quals.head, quals.head)
          val sets = uniqueKeys.getOrElse(tblKey, Nil)
            .filter(_.nonEmpty)
          val hasStar = refs.flatten.exists(_._2.isEmpty)
          val outCols = refs.flatten.flatMap(_._2)
            .map(c => skey(nameOf(c).get)).toSet
          val keyInOutput = (hasStar && sets.nonEmpty) ||
            sets.exists(_.map(skey).subsetOf(outCols))
          // name emission: raw tokens are already quoted for the JDBC
          // target; everything else gets the engine's backtick rule
          def colSql(t: Tok): String =
            if (t.kind == "raw") t.text else quoteIdent(t.text)
          if (keyInOutput) {
            // output dedup == record dedup: plain DISTINCT
            return pfx + em(ptoks.updated(dIdx, Tok("word", "DISTINCT")))
          } else if (sets.nonEmpty) {
            // one row per matched record: group on output cols + key
            val orderIdx = depth0Word(ptoks, "order", dIdx + 1)
            val bodyEnd = if (orderIdx < 0) ptoks.length else orderIdx
            // drop the DISTINCTROW keyword AND any TOP n (re-appended
            // as a trailing LIMIT below, after the GROUP BY)
            val body = em(
              ptoks.slice(0, dIdx) ++ ptoks.slice(selStart, bodyEnd))
            val outExprs = refs.flatten.collect {
              case (q, Some(c)) => s"${colSql(q)}.${colSql(c)}"
            }.distinct
            val key = sets.minBy(_.size)
            // appended key columns: the JDBC target's migrated tables
            // carry quoted case-exact column names (see
            // translateForJdbc), so quote there; backtick rule on the
            // engine
            val keyExprs = key.toSeq.sorted
              .filterNot(k => outCols.contains(skey(k)))
              .map(k => s"${colSql(qTok)}." +
                (if (jdbc) "\"" + k + "\"" else quoteIdent(k)))
            val orderPart =
              if (orderIdx < 0) "" else " " + em(ptoks.drop(orderIdx))
            return pfx + s"$body GROUP BY " +
              (outExprs ++ keyExprs).mkString(", ") + orderPart +
              topN.map(n => s" LIMIT $n").getOrElse("")
          } else
            fail("multi-table DISTINCTROW without a declared unique " +
              "key for its output table (record-level dedup needs " +
              "record identity — declare the table's unique key via " +
              "uniqueKeys; migrateJetMdbApp derives it from the " +
              ".mdb's own unique indexes)")
        }
      }
    }
    while (i < toks.length) {
      val t = toks(i)
      if (t.kind == "ws") { pendingSpace = true; i += 1 }
      else if (t.kind == "word" && rejected.contains(t.text.toLowerCase)) {
        fail(s"the ${t.text.toUpperCase} construct")
      } else if (isWord(t, "distinctrow") &&
        lastWord.equalsIgnoreCase("select")) {
        // Access itself IGNORES DISTINCTROW when the query draws from
        // a single table (its duplicate elimination is over underlying
        // RECORDS, and a one-table query's records ARE its rows) — and
        // the Access designer EMITS it by default, so this is the
        // rejection a ported .mdb app used to hit first. Single-table:
        // drop the keyword (plain row semantics, exactly Access).
        // Multi-table: still rejected — eliminating duplicates over
        // non-output source fields has no ANSI equivalent. The scan
        // starts AT this token so a UNION's later branch is judged by
        // its OWN FROM clause, never the first branch's.
        if (fromIsMultiTable(toks, i))
          // the translatable subset (all output columns from one
          // table, unique key declared) was already rewritten by the
          // pre-pass; reaching here means output fields from several
          // tables, an expression in the select list, or a UNION /
          // GROUP BY scope
          fail("DISTINCTROW over a multi-table FROM with output " +
            "fields from several tables or non-column expressions " +
            "(its duplicate elimination is over underlying records, " +
            "not output columns; the one-output-table subset " +
            "translates when the table's unique key is declared)")
        // dropped; lastWord stays "select" so a following TOP still
        // lands in keyword position
        i += 1
      } else if (isWord(t, "distinctrow")) {
        fail("DISTINCTROW outside SELECT's keyword position")
      } else if (isWord(t, "top") &&
        (lastWord.equalsIgnoreCase("select") ||
          lastWord.equalsIgnoreCase("distinct")) && {
          val nn = nextNonWs(i + 1)
          nn < toks.length && toks(nn).kind == "number"
        }) {
        // SELECT [DISTINCT] TOP n ... -> ... LIMIT n; a column merely
        // NAMED [Top] is either not in keyword position or not
        // followed by a count, and passes through. A scope-leading
        // TOP n PERCENT was already rewritten above, so PERCENT here
        // means a UNION-branch TOP — same cure as the UNION check.
        val nIdx = nextNonWs(i + 1)
        val pIdx = nextNonWs(nIdx + 1)
        if (pIdx < toks.length && isWord(toks(pIdx), "percent"))
          fail("TOP n PERCENT in a UNION branch (parenthesize the " +
            "branch so the tie-aware rewrite has its own scope)")
        if (hasDepth0Union(toks))
          fail("TOP in a scope containing UNION (Access applies TOP " +
            "per SELECT branch, but a trailing LIMIT would bind to " +
            "the COMBINED result — parenthesize the TOP branch's " +
            "SELECT)")
        if (limit.isDefined)
          fail("a second TOP in one scope (UNION branches each need " +
            "their own parenthesized SELECT for per-branch limits)")
        limit = Some(toks(nIdx).text)
        lastWord = "top"
        i = nIdx + 1
      } else if (isWord(t, "iif") && callAt(i).isDefined) {
        val (_, close, args) = callAt(i).get
        require(args.length == 3,
          s"jetsql: IIF takes 3 arguments, got ${args.length}")
        put("CASE WHEN " + em(args(0)) + " THEN " + em(args(1)) +
          " ELSE " + em(args(2)) + " END")
        lastWord = "end"
        i = close + 1
      } else if (isWord(t, "nz") && callAt(i).isDefined) {
        val (_, close, args) = callAt(i).get
        if (args.length != 2)
          fail("1-argument NZ (its result type is context-dependent)")
        put("COALESCE(" + em(args(0)) + ", " + em(args(1)) + ")")
        lastWord = "coalesce"
        i = close + 1
      } else if (isWord(t, "weekday") && callAt(i).isDefined) {
        // Access Weekday(d[, fdow]): 1 = the anchor day … 7. With the
        // default Sunday anchor that is exactly Spark's dayofweek;
        // any other literal anchor is the same numbering rotated —
        // ((dayofweek - fdow) mod 7) + 1 (r13; r12 rejected
        // non-defaults). The date is spliced once either way.
        val (_, close, args) = callAt(i).get
        if (args.length > 2)
          fail(s"WEEKDAY with ${args.length} arguments")
        val f = if (args.length == 2)
          weekAnchorArg(args(1), "WEEKDAY firstdayofweek", 7) else 1
        if (f == 1) {
          put("dayofweek(" + em(args(0)) + ")")
          lastWord = "dayofweek"
        } else {
          put(s"(pmod(dayofweek(" + em(args(0)) + s") - $f, 7) + 1)")
          lastWord = "pmod"
        }
        i = close + 1
      } else if (isWord(t, "datepart") && callAt(i).isDefined) {
        // DatePart(code, d [, firstdayofweek [, firstweekofyear]]):
        // every documented LITERAL anchor value translates (r13; r12
        // accepted only the defaults). Anchors affect only "w"
        // (weekday renumbering) and "ww" (week-of-year) — the other
        // codes accept-and-ignore them exactly as VB does.
        val (_, close, args) = callAt(i).get
        if (args.length < 2 || args.length > 4)
          fail(s"DATEPART with ${args.length} arguments")
        val f = if (args.length >= 3)
          weekAnchorArg(args(2), "DATEPART firstdayofweek", 7) else 1
        val w = if (args.length >= 4)
          weekAnchorArg(args(3), "DATEPART firstweekofyear", 3) else 1
        val code = intervalCode(args(0), "DatePart")
        if (code == "ww" && f == 1 && w == 1 &&
            !perRowNondet(em(args(1)))) {
          // DEFAULT anchors (vbSunday + vbFirstJan1): stock Spark SQL
          // so the translation runs on a plain session without
          // GraftExtensions (r14 — the r13 all-jet_weeknum emission
          // regressed exactly these callers). Week 1 is the Sun..Sat
          // week containing Jan 1, so ww = floor((doy + dowOfJan1
          // - 2) / 7) + 1 — algebraically identical to
          // jet_weeknum(d, 1, 1) (no previous-year carry exists
          // under fwoy 1; JetSqlSpec pins the equality over a dense
          // 1998–2035 range). The double splice of the date operand
          // is safe in this translator's OUTPUT domain: no emitted
          // function is per-row non-deterministic (Now()/Date() map
          // to Spark's query-constant current_timestamp/
          // current_date), so both copies always see the same value.
          val d = em(args(1))
          put("(CAST(FLOOR((dayofyear(" + d + ") + dayofweek(" +
            "date_trunc('YEAR', CAST(" + d + " AS DATE))) - 2) / 7) " +
            "AS INT) + 1)")
          lastWord = "ww"
          i = close + 1
        } else if (code == "ww") {
          // Non-default anchors: jet_weeknum (functions/JetWeek.scala)
          // carries the full anchor semantics — VB's within-year
          // numbering for late December (KB 200299) and previous-year
          // carry for early January under fwoy 2/3 — and splices the
          // date argument exactly once (r13 ADVICE: an inline formula
          // with a carry branch would evaluate it up to three times).
          // Requires GraftExtensions on the executing session — the
          // default-anchor branch above never does.
          put("jet_weeknum(CAST(" + em(args(1)) + s" AS DATE), $f, $w)")
          lastWord = "jet_weeknum"
          i = close + 1
        } else if (code == "w" && f != 1) {
          put("(pmod(dayofweek(" + em(args(1)) + s") - $f, 7) + 1)")
          lastWord = "pmod"
          i = close + 1
        } else {
          val fn = partFns.getOrElse(code,
            fail(s"DATEPART interval code \"$code\""))
          put(s"$fn(" + em(args(1)) + ")")
          lastWord = fn
          i = close + 1
        }
      } else if (isWord(t, "dateadd") && callAt(i).isDefined) {
        val (_, close, args) = callAt(i).get
        require(args.length == 3,
          s"jetsql: DATEADD takes 3 arguments, got ${args.length}")
        val code = intervalCode(args(0), "DateAdd")
        val unit = addUnits.getOrElse(code,
          fail(s"DATEADD interval code \"$code\""))
        put(s"timestampadd($unit, " + em(args(1)) + ", " +
          em(args(2)) + ")")
        lastWord = "timestampadd"
        i = close + 1
      } else if (isWord(t, "datediff") && callAt(i).isDefined) {
        // DateDiff(code, a, b [, firstdayofweek [, firstweekofyear]]):
        // trailing arguments accepted at their defaults only (r12)
        val (_, close, args) = callAt(i).get
        if (args.length < 3 || args.length > 5)
          fail(s"DATEDIFF with ${args.length} arguments")
        // Any documented literal anchor translates (r13). Only "ww"
        // uses firstdayofweek; firstweekofyear never affects a week
        // boundary COUNT (VB accepts and ignores it here) — it is
        // validated for range and dropped.
        val fdow = if (args.length >= 4)
          weekAnchorArg(args(3), "DATEDIFF firstdayofweek", 7) else 1
        if (args.length >= 5)
          weekAnchorArg(args(4), "DATEDIFF firstweekofyear", 3)
        val code = intervalCode(args(0), "DateDiff")
        val a = em(args(1))
        val b = em(args(2))
        // Access counts CALENDAR/CLOCK BOUNDARIES crossed, never
        // elapsed whole units — each form below is a boundary count.
        val sql = code match {
          case "yyyy" => s"(year($b) - year($a))"
          case "q" =>
            s"((year($b) - year($a)) * 4 + quarter($b) - quarter($a))"
          case "m" =>
            s"((year($b) - year($a)) * 12 + month($b) - month($a))"
          case "d" | "y" => s"datediff($b, $a)"
          // "w": whole 7-day periods, truncated toward zero (Fix).
          case "w" => s"CAST(datediff($b, $a) / 7 AS BIGINT)"
          // "ww": fdow week-start boundaries crossed. Anchor both
          // ends to their week's start, then the day gap is an exact
          // multiple of 7. Default Sunday anchor emits stock Spark
          // SQL (plain-session safe, r14 — jet_weekstart(d, 1) IS
          // d - (dayofweek(d) - 1) by definition; the double splice
          // per side is safe because the translator's output domain
          // has no per-row non-deterministic function); any other
          // documented anchor emits jet_weekstart (one splice per
          // side, needs GraftExtensions).
          case "ww" if fdow == 1 && !perRowNondet(a) &&
              !perRowNondet(b) =>
            s"CAST(datediff(date_sub(CAST($b AS DATE), dayofweek($b) " +
              s"- 1), date_sub(CAST($a AS DATE), dayofweek($a) - 1)) " +
              "/ 7 AS BIGINT)"
          case "ww" =>
            s"CAST(datediff(jet_weekstart(CAST($b AS DATE), $fdow), " +
              s"jet_weekstart(CAST($a AS DATE), $fdow)) / 7 AS BIGINT)"
          case "h" =>
            s"CAST((unix_timestamp(date_trunc('HOUR', $b)) - " +
              s"unix_timestamp(date_trunc('HOUR', $a))) / 3600 AS BIGINT)"
          case "n" =>
            s"CAST((unix_timestamp(date_trunc('MINUTE', $b)) - " +
              s"unix_timestamp(date_trunc('MINUTE', $a))) / 60 AS BIGINT)"
          case "s" => s"(unix_timestamp($b) - unix_timestamp($a))"
          case other => fail(s"DATEDIFF interval code \"$other\"")
        }
        put(sql)
        lastWord = "datediff"
        i = close + 1
      } else if ((isWord(t, "first") || isWord(t, "last")) &&
        callAt(i).isDefined) {
        // Jet First/Last return the value of the first/last row in
        // STORAGE order — Spark would resolve the same names to its
        // own nondeterministic first/last and silently freeze one
        // run's arbitrary pick into the result.
        fail(s"${t.text.toUpperCase} (storage-order-dependent; use " +
          "MIN/MAX, or min_by/max_by over an explicit ordering key)")
      } else if (t.kind == "word" &&
        domainAggs.contains(t.text.toLowerCase) && callAt(i).isDefined) {
        // DSum("expr", "domain"[, "criteria"]) → an uncorrelated
        // scalar subquery. Each argument is a Jet-SQL FRAGMENT in a
        // string, so it recursively tokenizes+translates (brackets,
        // #dates#, IIF — everything works inside). Only all-literal
        // arguments translate: Access criteria built by string
        // CONCATENATION ("k = " & [k]) embed row values into program
        // text and have no static SQL equivalent — those reject.
        val fnU = t.text.toUpperCase
        val (_, close, args) = callAt(i).get
        if (args.length != 2 && args.length != 3)
          fail(s"$fnU with ${args.length} arguments")
        val lits = args.map { a =>
          val ts = a.filter(_.kind != "ws")
          if (ts.length != 1 || ts.head.kind != "string")
            fail(s"$fnU with a non-literal argument (criteria built " +
              "by concatenation embed row values into program text — " +
              "rewrite as a correlated subquery)")
          ts.head.text
        }
        val fn = domainAggs(t.text.toLowerCase)
        val exprSql =
          if (fn == "COUNT" && lits(0).trim == "*") "*"
          else em(tokenize(lits(0)))
        val where =
          if (args.length == 3) " WHERE " + em(tokenize(lits(2)))
          else ""
        put(s"(SELECT $fn($exprSql) FROM " +
          em(tokenize(lits(1))) + where + ")")
        lastWord = "subquery"
        i = close + 1
      } else if (isWord(t, "instr") && callAt(i).isDefined &&
        callAt(i).get._3.length == 3) {
        // 3-arg InStr(start, s1, s2) → locate(s2, s1, start): same
        // 1-based position, same 0-if-absent, same search-from-start.
        val (_, close, args) = callAt(i).get
        put("locate(" + em(args(2)) + ", " + em(args(1)) + ", " +
          em(args(0)) + ")")
        lastWord = "locate"
        i = close + 1
      } else if (isWord(t, "instr") && callAt(i).isDefined &&
        callAt(i).get._3.length == 4) {
        // 4-arg InStr(start, s1, s2, compare) — r12: the two
        // deterministic compare modes translate; vbDatabaseCompare
        // (2) and vbUseCompareOption (-1) depend on module/database
        // settings this translator cannot see and still reject.
        //   0 = vbBinaryCompare → locate (byte-exact, like 3-arg);
        //   1 = vbTextCompare   → case-insensitive via lower() on
        //       both sides (the deterministic core of Jet's text
        //       mode; its locale tier — accent folding — is not
        //       portable and is NOT emulated: documented subset).
        //       Position caveat (r12 review): the returned index is
        //       computed in the LOWERCASED haystack, so the rare
        //       length-changing case maps (U+0130 → i + combining
        //       dot) can shift it by the expansion — part of the same
        //       documented non-locale subset.
        val (_, close, args) = callAt(i).get
        val cmp = args(3).filter(_.kind != "ws")
        val mode =
          if (cmp.length == 1 && cmp.head.kind == "number") cmp.head.text
          else "?"
        mode match {
          case "0" =>
            put("locate(" + em(args(2)) + ", " + em(args(1)) + ", " +
              em(args(0)) + ")")
          case "1" =>
            put("locate(lower(" + em(args(2)) + "), lower(" +
              em(args(1)) + "), " + em(args(0)) + ")")
          case _ =>
            fail("4-argument INSTR with a compare argument other " +
              "than 0 (binary) or 1 (text) — database/option modes " +
              "depend on settings outside the SQL text")
        }
        lastWord = "locate"
        i = close + 1
      } else if (isWord(t, "switch") && callAt(i).isDefined) {
        // Switch(c1, v1, c2, v2, …) → CASE WHEN c1 THEN v1 … END
        // (first true pair wins in Access too; no match → Null = ANSI)
        val (_, close, args) = callAt(i).get
        if (args.length < 2 || args.length % 2 != 0)
          fail(s"SWITCH with ${args.length} arguments (needs pairs)")
        val cases = args.grouped(2).map { p =>
          "WHEN " + em(p(0)) + " THEN " + em(p(1))
        }.mkString(" ")
        put(s"CASE $cases END")
        lastWord = "end"
        i = close + 1
      } else if (isWord(t, "choose") && callAt(i).isDefined) {
        // Choose(i, v1, v2, …) → CASE i WHEN 1 THEN v1 … END
        // (out-of-range index → Null, matching Access)
        val (_, close, args) = callAt(i).get
        if (args.length < 2)
          fail(s"CHOOSE with ${args.length} arguments")
        val cases = args.tail.zipWithIndex.map { case (v, k) =>
          s"WHEN ${k + 1} THEN " + em(v)
        }.mkString(" ")
        put("CASE " + em(args.head) + s" $cases END")
        lastWord = "end"
        i = close + 1
      } else if (isWord(t, "format") && callAt(i).isDefined) {
        // NAMED formats (r14), then the deterministic DATE-pattern
        // and NUMERIC-mask subsets (numeric now takes 1-4 ;-sections
        // with $()+- % literal affixes); 1-arg general Format and
        // "General Number" still reject. JDBC targets reject at
        // TRANSLATE time (r14 review wave 3): every emission here is
        // Spark SQL (format_string/date_format/concat) that Derby
        // cannot run and PostgreSQL only partially — an execution-
        // time "function not recognized" on the target would point
        // at the wrong layer.
        if (jdbc)
          fail("FORMAT on a JDBC target (the emission is Spark SQL " +
            "— format_string/date_format; port the query through " +
            "the engine, or use the target dialect's to_char in " +
            "native SQL)")
        val (_, close, args) = callAt(i).get
        if (args.length != 2)
          fail(s"${args.length}-argument FORMAT (only the 2-argument " +
            "pattern form is deterministic)")
        val ps = args(1).filter(_.kind != "ws")
        if (ps.length != 1 || ps.head.kind != "string")
          fail("FORMAT with a non-literal pattern")
        val mask = ps.head.text
        // VB renders an EMPTY mask as General Number — the same
        // shortest-repr rendering the named form rejects; without
        // this guard it would fall through to date_format(x, ''),
        // which is a type error for numeric operands (r14 wave 3)
        if (mask.isEmpty)
          fail("FORMAT with an empty pattern (VB treats it as " +
            "\"General Number\" — see that rejection)")
        val fmtOp = em(args(0))
        // Every numeric/text/boolean emission below splices the
        // operand into SEVERAL branches (sign dispatch, null guard,
        // abs() re-render — up to six copies); a per-row
        // non-deterministic operand would be re-drawn per splice and
        // dispatch inconsistently (r14 wave 4 — same guard the ww
        // emissions already apply).
        if (perRowNondet(fmtOp))
          fail("FORMAT over a per-row non-deterministic operand " +
            "(the emission splices the operand into sign/null " +
            "dispatch branches that would each re-evaluate it)")
        namedFormatSql(fmtOp, mask)
          .orElse(textFormatSql(fmtOp, mask)) match {
          case Some(sql) =>
            put(sql)
            lastWord = "format"
          case None =>
            // structure dispatch on BARE chars: a quoted "0" in a
            // date mask's literal text must not route to numeric
            if (bareMaskChars(mask)
                .exists(c => c == '0' || c == '#')) {
              put(numericFormatSql(fmtOp, mask))
              lastWord = "format"
            } else {
              put("date_format(" + fmtOp + ", '" +
                formatPattern(mask) + "')")
              lastWord = "date_format"
            }
        }
        i = close + 1
      } else if ((isWord(t, "formatnumber") ||
        isWord(t, "formatcurrency") || isWord(t, "formatpercent")) &&
        callAt(i).isDefined) {
        // The VBA6 Format* wrappers (FormatNumber/FormatCurrency/
        // FormatPercent) are sugar over the mask machinery under
        // this translator's en-US pinning: 2 decimals default,
        // digit grouping, accounting parens for negative currency
        // (the US regional default). The TRISTATE option arguments
        // (IncludeLeadingDigit/UseParensForNegativeNumbers/
        // GroupDigits) reject — they exist to OVERRIDE regional
        // settings, so a caller passing them wants something this
        // fixed pinning can't promise; an explicit Format mask says
        // it exactly.
        if (jdbc)
          fail(s"${t.text} on a JDBC target (the emission is Spark " +
            "SQL — see FORMAT)")
        val fname = t.text
        val (_, close, args) = callAt(i).get
        if (args.isEmpty || args.length > 2)
          fail(s"$fname with the tristate option arguments " +
            "(regional-settings overrides — spell the exact " +
            "rendering with a Format mask instead)")
        val d = args.lift(1) match {
          case None => 2
          case Some(ts) => ts.filter(_.kind != "ws") match {
            case Seq(tk) if tk.kind == "number" &&
                tk.text.forall(_.isDigit) =>
              val v = tk.text.toInt
              if (v > 15)
                fail(s"$fname with $v decimal digits (the operand " +
                  "renders at double precision — ~15 significant " +
                  "digits)")
              v
            case Seq(s0, tk) if s0.text == "-" && tk.text == "1" =>
              2 // -1 = use regional settings; en-US renders 2
            case _ =>
              fail(s"$fname with a non-literal digit count (the " +
                "mask is fixed at translate time)")
          }
        }
        val zeros = if (d == 0) "" else "." + "0" * d
        val x = em(args(0))
        if (perRowNondet(x))
          fail(s"$fname over a per-row non-deterministic operand " +
            "(the mask emission splices it into dispatch branches)")
        put(fname.toLowerCase match {
          case "formatnumber" => sectionSql(x, s"#,##0$zeros", fname)
          case "formatpercent" =>
            sectionSql(x, s"#,##0$zeros%", fname)
          case _ =>
            sectionedNumericSql(x, s"$$#,##0$zeros;($$#,##0$zeros)")
        })
        lastWord = "format"
        i = close + 1
      } else if (isWord(t, "formatdatetime") && callAt(i).isDefined) {
        // FormatDateTime(d [, code]): the five vbGeneralDate..
        // vbShortTime codes ARE the named date/time formats — one
        // table, one rendering path. The code must be literal.
        if (jdbc)
          fail("FormatDateTime on a JDBC target (the emission is " +
            "Spark SQL — see FORMAT)")
        val (_, close, args) = callAt(i).get
        if (args.isEmpty || args.length > 2)
          fail(s"${args.length}-argument FormatDateTime")
        val name = args.lift(1) match {
          case None => "general date"
          case Some(ts) => ts.filter(_.kind != "ws") match {
            case Seq(tk) if tk.kind == "number" => tk.text match {
              case "0" => "general date"
              case "1" => "long date"
              case "2" => "short date"
              case "3" => "long time"
              case "4" => "short time"
              case other => fail("FormatDateTime named-format code " +
                s"$other (vbGeneralDate..vbShortTime are 0-4)")
            }
            case _ =>
              fail("FormatDateTime with a non-literal format code")
          }
        }
        val x = em(args(0))
        if (perRowNondet(x))
          fail("FormatDateTime over a per-row non-deterministic " +
            "operand (General Date splices it into the day-zero " +
            "dispatch)")
        put(namedFormatSql(x, name).get)
        lastWord = "format"
        i = close + 1
      } else if (isWord(t, "ccur") && callAt(i).isDefined) {
        // Currency: exact 4-decimal fixed point, banker's-rounded on
        // entry — CCur(1.00005) = 1.0000 (round half to even).
        val (open, close, _) = callAt(i).get
        put("CAST(BROUND(" + em(toks.slice(open + 1, close)) +
          ", 4) AS DECIMAL(19,4))")
        lastWord = "cast"
        i = close + 1
      } else if (isWord(t, "fix") && callAt(i).isDefined) {
        // Fix truncates toward zero (Int floors); BIGINT cast matches.
        val (open, close, _) = callAt(i).get
        put("CAST(" + em(toks.slice(open + 1, close)) + " AS BIGINT)")
        lastWord = "cast"
        i = close + 1
      } else if (isWord(t, "round") && callAt(i).isDefined) {
        // VBA/Jet Round is BANKER'S (half to even); letting it pass
        // through to Spark's HALF-UP round() silently diverged on
        // every tie — Access Round(2.5) = 2, Spark round(2.5) = 3 —
        // the exact trap the CLng/CInt BROUND translation closed.
        // JDBC targets reject: Derby has no half-even form and
        // PostgreSQL's own round() flips semantics between numeric
        // (half away) and float8 (half even). Differs from VBA only
        // where VBA itself errors (negative decimal counts).
        if (jdbc)
          fail("Round on a JDBC target (Access rounds HALF TO " +
            "EVEN; the target dialects' round() functions do not " +
            "— port the query through the engine)")
        val (_, close, args) = callAt(i).get
        if (args.length < 1 || args.length > 2)
          fail(s"${args.length}-argument Round (VBA defines 1-2)")
        put("BROUND(" + args.map(em(_)).mkString(", ") + ")")
        lastWord = "bround"
        i = close + 1
      } else if (isWord(t, "chr") && callAt(i).isDefined) {
        // Chr is CP1252 (Jet's text codepage), not Unicode: codes
        // 128-159 are CP1252's printable punctuation block (€ ‚ „ …)
        // where Unicode has C1 control characters — the old bare
        // rename to char() was silently wrong for exactly that band.
        // Literal codes resolve AT TRANSLATE TIME through the real
        // codepage (dialect-portable: the emission is a plain string
        // literal); column operands keep char() behind a runtime
        // guard on the divergent band.
        val (_, close, args) = callAt(i).get
        if (args.length != 1)
          fail(s"${args.length}-argument Chr")
        args(0).filter(_.kind != "ws") match {
          case Seq(tk) if tk.kind == "number" &&
              !tk.text.contains(".") && tk.text.toLong <= 255 =>
            put(render(Tok("string",
              new String(Array(tk.text.toLong.toByte), cp1252))))
          case Seq(tk) if tk.kind == "number" &&
              !tk.text.contains(".") =>
            fail(s"Chr(${tk.text}) outside Jet's CP1252 byte range " +
              "(VBA Chr accepts 0-255; ChrW is not a Jet function)")
          // fractional literals fall through to the guarded runtime
          // path, which banker's-rounds like VBA's coercion
          case _ =>
            if (jdbc)
              fail("Chr with a non-literal operand on a JDBC " +
                "target (the CP1252 guard emission is Spark SQL)")
            val x = em(args(0))
            if (perRowNondet(x))
              fail("Chr over a per-row non-deterministic operand " +
                "(the CP1252 guard splices it twice)")
            // banker's-round first (VBA coerces Chr(65.5) to 66);
            // Spark's char() silently WRAPS mod 256 outside 0-255
            // where VBA errors — wrap-class corruption, so the whole
            // out-of-band range is loud at runtime, not just the
            // CP1252-divergent 128-159 block
            val code = s"CAST(BROUND($x) AS BIGINT)"
            put(s"(CASE WHEN $code < 0 OR $code > 255 OR " +
              s"($code BETWEEN 128 AND 159) THEN " +
              "CAST(raise_error('Chr: code outside 0-127/160-255 " +
              "(128-159 are CP1252-specific, and char() would " +
              "silently wrap codes VBA rejects) — literal codes " +
              "translate through the codepage') AS STRING) " +
              s"ELSE char($code) END)")
        }
        lastWord = "chr"
        i = close + 1
      } else if (isWord(t, "asc") && callAt(i).isDefined) {
        // Asc returns the CP1252 byte of the FIRST character; Spark's
        // ascii() returns the Unicode codepoint. Identical through
        // 0-127, divergent above — runtime guard, loud not silent.
        // (ORDER BY's ASC keyword is never call-form, so this
        // dispatch cannot collide with it.)
        if (jdbc)
          fail("Asc on a JDBC target (the CP1252 guard emission " +
            "is Spark SQL)")
        val (_, close, args) = callAt(i).get
        if (args.length != 1)
          fail(s"${args.length}-argument Asc")
        val x = em(args(0))
        if (perRowNondet(x))
          fail("Asc over a per-row non-deterministic operand (the " +
            "guard splices it twice)")
        put(s"(CASE WHEN ascii($x) > 127 THEN CAST(raise_error(" +
          "'Asc: non-ASCII first character — the VBA result is " +
          "its CP1252 byte, not the Unicode codepoint') AS INT) " +
          s"ELSE ascii($x) END)")
        lastWord = "asc"
        i = close + 1
      } else if (isWord(t, "hex") && callAt(i).isDefined) {
        // VBA Hex banker's-rounds the operand, then renders the
        // TYPE-WIDTH two's complement for negatives (Integer "FFFF"
        // vs Long "FFFFFFFF") — width-dependence a schema-blind
        // translation cannot resolve, so negatives are loud at
        // runtime; non-negatives render identically to Spark's hex()
        // after BROUND. Differs from VBA only where VBA itself
        // errors (operands beyond the Long range).
        if (jdbc)
          fail("Hex on a JDBC target (the emission is Spark SQL — " +
            "BROUND/raise_error)")
        val (_, close, args) = callAt(i).get
        if (args.length != 1)
          fail(s"${args.length}-argument Hex")
        val x = em(args(0))
        if (perRowNondet(x))
          fail("Hex over a per-row non-deterministic operand (the " +
            "sign guard splices it twice)")
        put(s"(CASE WHEN ($x) < 0 THEN CAST(raise_error('Hex of a " +
          "negative value is type-width-dependent in VBA (Integer " +
          "renders FFFF where Long renders FFFFFFFF) — add 4294967296 " +
          "to the operand for the Long rendering') AS STRING) " +
          s"ELSE hex(CAST(BROUND($x) AS BIGINT)) END)")
        lastWord = "hex"
        i = close + 1
      } else if (isWord(t, "val") && callAt(i).isDefined) {
        // VBA Val: strip ALL spaces/tabs/newlines (even interior —
        // Val(" 1 2 3") = 123), read the longest leading numeric
        // prefix (optional sign, digits with one '.', optional E/D
        // exponent — D is VBA's Double-literal exponent), 0 when
        // none; the '.' radix point is locale-independent by VBA
        // documentation. The &H/&O radix prefixes are loud at
        // runtime (the translation renders decimal forms only).
        if (jdbc)
          fail("Val on a JDBC target (the emission is Spark SQL — " +
            "regexp_extract/raise_error)")
        val (_, close, args) = callAt(i).get
        if (args.length != 1)
          fail(s"${args.length}-argument Val")
        val x = em(args(0))
        if (perRowNondet(x))
          fail("Val over a per-row non-deterministic operand (the " +
            "radix guard splices it twice)")
        val stripped =
          s"regexp_replace(CAST(($x) AS STRING), '[ \\\\t\\\\n\\\\r]', '')"
        val num = s"regexp_extract($stripped, " +
          "'^[+-]?([0-9]+\\\\.?[0-9]*|\\\\.[0-9]+)([dDeE][+-]?[0-9]+)?', 0)"
        put(s"(CASE WHEN ($x) IS NULL THEN CAST(NULL AS DOUBLE) " +
          s"WHEN $stripped RLIKE '^&' THEN " +
          "CAST(raise_error('Val: &H/&O radix prefixes are out of " +
          "the deterministic subset (this translation reads decimal " +
          "forms only)') AS DOUBLE) ELSE coalesce(CAST(nullif(" +
          s"regexp_replace($num, '[dD]', 'e'), '') AS DOUBLE), " +
          "CAST(0 AS DOUBLE)) END)")
        lastWord = "val"
        i = close + 1
      } else if (isWord(t, "string") && callAt(i).isDefined) {
        // VBA String(n, c): c repeated n times — a STRING c uses its
        // FIRST character only, a NUMERIC c is a CP1252 char code.
        // The two readings disagree (String(3, "5") = "555" but
        // String(3, 53) = "555" too, while String(3, 5) is three
        // ENQ controls), so only literal second arguments translate;
        // a column ref is type-ambiguous for a schema-blind rewrite.
        // Wrong arity is loud too: a 1-arg String(x) would otherwise
        // fall into Spark's own string() CAST — a silent cast where
        // VBA errors.
        val (_, close, args) = callAt(i).get
        if (args.length != 2)
          fail(s"${args.length}-argument String() (VBA defines " +
            "String(n, ch); Spark's string() cast is not a Jet " +
            "function)")
        val ch: String = args(1).filter(_.kind != "ws") match {
          case Seq(tk) if tk.kind == "string" && tk.text.nonEmpty =>
            tk.text.head.toString
          case Seq(tk) if tk.kind == "number" && !tk.text.contains(".") &&
              tk.text.toLong <= 255 =>
            new String(Array(tk.text.toLong.toByte), cp1252)
          case Seq(tk) if tk.kind == "number" =>
            fail(s"String(n, ${tk.text}): char code outside Jet's " +
              "CP1252 byte range")
          case _ =>
            fail("String() with a non-literal second argument (a " +
              "string operand repeats its first character, a number " +
              "is a char code — type-ambiguous for a schema-blind " +
              "translation; pass a literal)")
        }
        if (jdbc)
          fail("String() on a JDBC target (repeat() is not in " +
            "every target dialect — port the query through the " +
            "engine)")
        put(s"repeat(${render(Tok("string", ch))}, ${em(args(0))})")
        lastWord = "repeat"
        i = close + 1
      } else if (isWord(t, "dateserial") && callAt(i).isDefined) {
        // VBA DateSerial(y, m, d) with BOTH documented quirks:
        //   - full rollover arithmetic (month 13 → next January,
        //     day 0 → last of prior month): Jan-1-of-y plus (m-1)
        //     months plus (d-1) days IS that semantics exactly —
        //     add_months never clamps because the anchor day is 1;
        //   - the two-digit-year pivot: 0-29 → 2000s, 30-99 → 1900s
        //     (make_date(99,…) would silently mean year 99).
        // Out-of-range results error under ANSI exactly where VBA
        // overflows.
        if (jdbc)
          fail("DateSerial on a JDBC target (the emission is Spark " +
            "SQL — make_date/add_months)")
        val (_, close, args) = callAt(i).get
        if (args.length != 3)
          fail(s"${args.length}-argument DateSerial")
        val (y, m, d) = (em(args(0)), em(args(1)), em(args(2)))
        if (perRowNondet(y))
          fail("DateSerial over a per-row non-deterministic year " +
            "(the century pivot splices it three times)")
        val yy = s"(CASE WHEN ($y) BETWEEN 0 AND 29 THEN ($y) + 2000 " +
          s"WHEN ($y) BETWEEN 30 AND 99 THEN ($y) + 1900 " +
          s"ELSE ($y) END)"
        put(s"date_add(add_months(make_date($yy, 1, 1), ($m) - 1), " +
          s"($d) - 1)")
        lastWord = "dateserial"
        i = close + 1
      } else if (isWord(t, "timeserial") && callAt(i).isDefined) {
        // VBA TimeSerial(h, m, s): a time-of-day value = a timestamp
        // on Jet's zero day, with full rollover/negative arithmetic
        // (TimeSerial(12, -15, 0) = 11:45 AM) — make_interval
        // addition is exactly that.
        if (jdbc)
          fail("TimeSerial on a JDBC target (the emission is Spark " +
            "SQL — make_interval)")
        val (_, close, args) = callAt(i).get
        if (args.length != 3)
          fail(s"${args.length}-argument TimeSerial")
        val (h, m, s) = (em(args(0)), em(args(1)), em(args(2)))
        put(s"(TIMESTAMP '1899-12-30 00:00:00' + " +
          s"make_interval(0, 0, 0, 0, $h, $m, $s))")
        lastWord = "timeserial"
        i = close + 1
      } else if (isWord(t, "monthname") && callAt(i).isDefined) {
        // MonthName(m [, abbreviate]) under the translator's en-US
        // pinning (Spark renders datetime text through Locale.US —
        // the precedent the mmm/dddd Format masks set). The
        // abbreviate flag must be a literal True/False; make_date
        // errors on m outside 1-12 exactly where VBA does.
        if (jdbc)
          fail("MonthName on a JDBC target (the emission is Spark " +
            "SQL — date_format/make_date)")
        val (_, close, args) = callAt(i).get
        if (args.length < 1 || args.length > 2)
          fail(s"${args.length}-argument MonthName")
        val pat = monthDayNamePattern(args.lift(1), "MMM", "MMMM")
        put(s"date_format(make_date(2000, ${em(args(0))}, 1), '$pat')")
        lastWord = "monthname"
        i = close + 1
      } else if (isWord(t, "weekdayname") && callAt(i).isDefined) {
        // WeekdayName(n [, abbreviate]) with the default Sunday=1
        // anchor (2000-01-02 was a Sunday); n outside 1-7 is loud at
        // runtime where VBA errors. The 3-argument firstdayofweek
        // form rejects — the same stance 2-arg Weekday takes.
        if (jdbc)
          fail("WeekdayName on a JDBC target (the emission is " +
            "Spark SQL — date_format/raise_error)")
        val (_, close, args) = callAt(i).get
        if (args.length < 1 || args.length > 2)
          fail(s"${args.length}-argument WeekdayName (the " +
            "firstdayofweek form re-anchors the index — spell the " +
            "day arithmetic out)")
        val pat = monthDayNamePattern(args.lift(1), "EEE", "EEEE")
        val n = em(args(0))
        if (perRowNondet(n))
          fail("WeekdayName over a per-row non-deterministic " +
            "operand (the range guard splices it twice)")
        put(s"(CASE WHEN ($n) BETWEEN 1 AND 7 THEN date_format(" +
          s"date_add(DATE '2000-01-02', ($n) - 1), '$pat') " +
          "ELSE CAST(raise_error('WeekdayName: index outside 1-7') " +
          "AS STRING) END)")
        lastWord = "weekdayname"
        i = close + 1
      } else if (isWord(t, "time") && callAt(i).isDefined &&
        callAt(i).get._3.forall(_.forall(_.kind == "ws"))) {
        // VBA Time() = today's clock on Jet's zero day (time-of-day
        // values are day-zero-anchored timestamps). current_timestamp
        // and current_date are query-constant, so the value is
        // deterministic within a statement — like Now()/Date().
        if (jdbc)
          fail("Time() on a JDBC target (the emission is Spark " +
            "SQL timestamp arithmetic; use the target's CURRENT_TIME)")
        put("(TIMESTAMP '1899-12-30 00:00:00' + (current_timestamp() " +
          "- CAST(current_date() AS TIMESTAMP)))")
        lastWord = "time"
        i = callAt(i).get._2 + 1
      } else if (isWord(t, "instrrev") && callAt(i).isDefined) {
        // InStrRev(check, match[, start[, compare]]) — the LAST
        // occurrence, found via instr over both strings reversed.
        // NOTE the argument order is (haystack, needle) — the
        // OPPOSITE of 4-arg InStr. Only the search-from-end default
        // start (-1) translates: a positional start re-anchors the
        // scan. compare 0 = binary, 1 = lowered text (the same
        // length-preserving assumption 4-arg InStr's text mode
        // makes). Zero-length edges per VBA: empty match → Len(check),
        // empty check → 0; NULL propagates through the arithmetic.
        if (jdbc)
          fail("InStrRev on a JDBC target (the emission is Spark " +
            "SQL — reverse/instr)")
        val (_, close, args) = callAt(i).get
        if (args.length < 2 || args.length > 4)
          fail(s"${args.length}-argument InStrRev")
        args.lift(2).foreach { ts =>
          val st = ts.filter(_.kind != "ws").map(_.text).mkString
          if (st != "-1" && st != "(-1)" && st != "- 1")
            fail("InStrRev with a start other than the literal -1 " +
              "(a positional start re-anchors the reverse scan)")
        }
        val ci = args.lift(3) match {
          case None => false
          case Some(ts) => ts.filter(_.kind != "ws") match {
            case Seq(tk) if tk.text == "0" => false
            case Seq(tk) if tk.text == "1" => true
            case _ => fail("InStrRev compare must be the literal 0 " +
              "(binary) or 1 (text) — 2 means the database-order " +
              "collation")
          }
        }
        val s0 = em(args(0))
        val m0 = em(args(1))
        if (perRowNondet(s0) || perRowNondet(m0))
          fail("InStrRev over a per-row non-deterministic operand " +
            "(the emission splices each side several times)")
        val (sS, mS) =
          if (ci) (s"lower($s0)", s"lower($m0)") else (s0, m0)
        val hit = s"instr(reverse($sS), reverse($mS))"
        put(s"(CASE WHEN length($m0) = 0 THEN length($s0) " +
          s"WHEN $hit = 0 THEN 0 " +
          s"ELSE length($s0) - length($m0) - $hit + 2 END)")
        lastWord = "instrrev"
        i = close + 1
      } else if (isWord(t, "strcomp") && callAt(i).isDefined) {
        // StrComp(a, b[, compare]) → the -1/0/1 sign. Binary mode
        // compares UTF-16 code units in VBA but UTF-8 bytes in
        // Spark — identical through ASCII, divergent above (and text
        // mode adds locale collation on top), so non-ASCII operands
        // are loud at runtime. NULL yields Null exactly as VBA: every
        // CASE condition goes unknown and there is no ELSE.
        if (jdbc)
          fail("StrComp on a JDBC target (the emission is Spark " +
            "SQL — rlike/raise_error)")
        val (_, close, args) = callAt(i).get
        if (args.length < 2 || args.length > 3)
          fail(s"${args.length}-argument StrComp")
        val ci = args.lift(2) match {
          case None => false
          case Some(ts) => ts.filter(_.kind != "ws") match {
            case Seq(tk) if tk.text == "0" => false
            case Seq(tk) if tk.text == "1" => true
            case _ => fail("StrComp compare must be the literal 0 " +
              "(binary) or 1 (text)")
          }
        }
        val a0 = em(args(0))
        val b0 = em(args(1))
        if (perRowNondet(a0) || perRowNondet(b0))
          fail("StrComp over a per-row non-deterministic operand " +
            "(the sign dispatch splices each side several times)")
        val (aS, bS) =
          if (ci) (s"lower($a0)", s"lower($b0)") else (a0, b0)
        put(s"(CASE WHEN ($a0) RLIKE '[^\\\\x00-\\\\x7F]' OR " +
          s"($b0) RLIKE '[^\\\\x00-\\\\x7F]' THEN " +
          "CAST(raise_error('StrComp: non-ASCII operand — VBA " +
          "compares UTF-16 code units (plus locale collation in " +
          "text mode) where Spark compares UTF-8 bytes') AS INT) " +
          s"WHEN $aS < $bS THEN -1 WHEN $aS > $bS THEN 1 " +
          s"WHEN $aS = $bS THEN 0 END)")
        lastWord = "strcomp"
        i = close + 1
      } else if (isWord(t, "cbool") && callAt(i).isDefined) {
        // CBool: zero → False, any other NUMBER → True, Null → Null
        // (the boolean-words dispatch rule). A string operand fails
        // the double cast at analysis/runtime — loud, where VBA
        // would parse "True"/"False" by locale word tables.
        val (_, close, args) = callAt(i).get
        if (args.length != 1)
          fail(s"${args.length}-argument CBool")
        val x = em(args(0))
        if (perRowNondet(x))
          fail("CBool over a per-row non-deterministic operand " +
            "(the zero dispatch splices it twice)")
        put(s"(CASE WHEN CAST(($x) AS DOUBLE) = 0 THEN false " +
          s"WHEN CAST(($x) AS DOUBLE) IS NOT NULL THEN true END)")
        lastWord = "cbool"
        i = close + 1
      } else if ((isWord(t, "datevalue") || isWord(t, "timevalue")) &&
        callAt(i).isDefined) {
        // DateValue/TimeValue: the date (resp. day-zero-anchored
        // time) part. LITERAL strings parse at translate time
        // through the #literal# path; a #...# literal splits
        // directly. Non-literal operands reject: a text column would
        // hit Spark's ISO-only to_date where Access parses by
        // LOCALE — a silent NULL (or silently different date) on
        // exactly the data this function exists for.
        val isTime = t.text.equalsIgnoreCase("timevalue")
        val (_, close, args) = callAt(i).get
        if (args.length != 1)
          fail(s"${args.length}-argument ${t.text}")
        val litSql: Option[String] =
          args(0).filter(_.kind != "ws") match {
            case Seq(tk) if tk.kind == "string" =>
              // bare times ("14:30") parse as day-zero timestamps
              val body =
                if (isTime && !tk.text.contains("/") &&
                    !tk.text.contains("-") && tk.text.contains(":"))
                  "1899-12-30 " + tk.text
                else tk.text
              Some(try dateLiteral(body) catch {
                case _: RuntimeException =>
                  fail(s"${t.text}(${"\"" + tk.text + "\""}) is " +
                    "not a m/d/yyyy, y-m-d, or h:m[:s] literal " +
                    "this translator can fix at translate time")
              })
            case Seq(tk) if tk.kind == "date" =>
              Some(dateLiteral(tk.text))
            case _ => None
          }
        litSql match {
          case Some(sql) =>
            if (isTime)
              // keep only the clock face, re-anchored on day zero
              put(if (sql.startsWith("DATE"))
                "TIMESTAMP '1899-12-30 00:00:00'"
              else s"(TIMESTAMP '1899-12-30 00:00:00' + " +
                s"($sql - CAST(to_date($sql) AS TIMESTAMP)))")
            else
              put(if (sql.startsWith("DATE")) sql
                else s"to_date($sql)")
          case None =>
            fail(s"${t.text} over a non-literal operand (Access " +
              "parses text by LOCALE where Spark's to_date is " +
              "ISO-only — a silently different date; for date-typed " +
              "operands use CDate arithmetic or the engine's " +
              "to_date/date_trunc directly)")
        }
        lastWord = "datevalue"
        i = close + 1
      } else if ((isWord(t, "cdate") || isWord(t, "cvdate")) &&
        callAt(i).isDefined) {
        // CDate/CVDate. A literal string parses AT TRANSLATE TIME
        // through the same m/d/yyyy path as #...# literals (a
        // non-literal string would be a locale-dependent runtime
        // parse — loud instead). A numeric operand is an OLE serial
        // date — Jet's own storage model, decoded with the rule the
        // jetmdb page codec uses: whole days from 1899-12-30, and
        // the |fraction| is the time of day REGARDLESS of sign
        // (CDate(-1.25) is 1899-12-29 06:00, not 18:00).
        val (_, close, args) = callAt(i).get
        if (args.length != 1)
          fail(s"${args.length}-argument CDate")
        args(0).filter(_.kind != "ws") match {
          case Seq(tk) if tk.kind == "string" =>
            put(try dateLiteral(tk.text) catch {
              case _: RuntimeException =>
                fail(s"CDate(${"\"" + tk.text + "\""}) is not a " +
                  "m/d/yyyy or y-m-d literal this translator can " +
                  "fix at translate time")
            })
          case Seq(tk) if tk.kind == "date" =>
            put(render(tk)) // CDate(#...#) is the identity
          case _ =>
            if (jdbc)
              fail("CDate over a non-literal operand on a JDBC " +
                "target (the OLE-serial emission is Spark SQL)")
            val x = em(args(0))
            if (perRowNondet(x))
              fail("CDate over a per-row non-deterministic operand " +
                "(the day/fraction split splices it three times)")
            // CAST .. AS BIGINT truncates toward zero — exactly the
            // OLE day part; a string operand fails the arithmetic
            // at analysis, loud
            val days = s"CAST(($x) AS BIGINT)"
            put(s"timestampadd(MICROSECOND, CAST(ROUND(abs(($x) - " +
              s"$days) * 86400000000, 0) AS BIGINT), " +
              s"CAST(date_add(DATE '1899-12-30', CAST($days AS INT)) " +
              "AS TIMESTAMP))")
        }
        lastWord = "cdate"
        i = close + 1
      } else if (t.kind == "word" &&
        callRenames.contains(t.text.toLowerCase) && callAt(i).isDefined) {
        put(callRenames(t.text.toLowerCase))
        lastWord = t.text
        i += 1
      } else if (t.kind == "word" &&
        castFns.contains(t.text.toLowerCase) && callAt(i).isDefined) {
        val (open, close, _) = callAt(i).get
        put("CAST(" + em(toks.slice(open + 1, close)) + " AS " +
          castFns(t.text.toLowerCase) + ")")
        lastWord = "cast"
        i = close + 1
      } else if (t.kind == "word" &&
        broundFns.contains(t.text.toLowerCase) && callAt(i).isDefined) {
        val (open, close, _) = callAt(i).get
        put("CAST(BROUND(" + em(toks.slice(open + 1, close)) +
          ") AS " + broundFns(t.text.toLowerCase) + ")")
        lastWord = "cast"
        i = close + 1
      } else if (t.kind == "word" &&
        renames.contains(t.text.toLowerCase)) {
        put(renames(t.text.toLowerCase))
        lastWord = t.text
        i += 1
      } else if (isWord(t, "now") && callAt(i).isDefined &&
        callAt(i).get._3.forall(_.forall(_.kind == "ws"))) {
        put("current_timestamp")
        lastWord = "now"
        i = callAt(i).get._2 + 1
      } else if (isWord(t, "date") && callAt(i).isDefined &&
        callAt(i).get._3.forall(_.forall(_.kind == "ws"))) {
        put("current_date")
        lastWord = "date"
        i = callAt(i).get._2 + 1
      } else if (t.kind == "punct" && t.text == "(") {
        // every parenthesized group is its OWN emit scope: a TOP
        // inside a subquery becomes that subquery's LIMIT — without
        // the recursion it would float to the OUTER statement's end
        // and silently change which query it limits
        val close = closeOf(toks, i)
        put("(" + em(toks.slice(i + 1, close)) + ")")
        lastWord = ")"
        i = close + 1
      } else if (t.kind == "punct" && t.text == "&") {
        // ampRewrite consumes every reachable & — if one slips
        // through, emitting it verbatim would be Spark's BITWISE and,
        // a silent corruption; fail instead.
        fail("an & the concat rewrite could not scope")
      } else if (isWord(t, "mod") && !lastWord.isEmpty &&
        nextNonWs(i + 1) < toks.length &&
        toks(nextNonWs(i + 1)).text != "(") {
        // Jet's infix Mod operator → % (a leading or call-form `mod`
        // is left alone — e.g. a function or a column named mod)
        put("%")
        i += 1
      } else if (isWord(t, "like")) {
        // translate the wildcards of the literal that follows — a Jet
        // string token OR a bound Text PARAMETER (substituteParams
        // already rendered it as a raw '…' SQL literal); both carry
        // Jet wildcards that would otherwise pass through and
        // silently match literal */?/[ characters
        val litIdx = nextNonWs(i + 1)
        val litPat: Option[String] =
          if (litIdx >= toks.length) None
          else if (toks(litIdx).kind == "string") Some(toks(litIdx).text)
          else if (toks(litIdx).kind == "raw" && {
            val rt = toks(litIdx).text
            rt.length >= 2 && rt.head == '\'' && rt.last == '\''
          }) Some(toks(litIdx).text.substring(1,
            toks(litIdx).text.length - 1).replace("''", "'"))
          else None
        if (litPat.isDefined) {
          val pat = litPat.get
          if (pat.contains("[") || pat.contains("#") ||
            pat.contains("%") || pat.contains("_")) {
            // [charlist] / # (single digit) have no ANSI LIKE
            // equivalent but map EXACTLY onto a regex — on the engine
            // target the whole pattern becomes an anchored RLIKE
            // (`NOT LIKE` stays correct: the NOT token already
            // emitted, and Spark parses `x NOT RLIKE p`). JDBC
            // targets keep the rejection: regex operators are
            // dialect-specific there (Derby has none). Literal '%' /
            // '_' take the same route: they are PLAIN CHARACTERS in a
            // Jet pattern but wildcards in ANSI LIKE, so passing them
            // through would silently widen the match (Jet "100%*" ≠
            // LIKE '100%%'); jetLikeRegex emits them as regex
            // literals, preserving Jet semantics exactly.
            if (jdbc)
              fail("Jet LIKE [charlist]/#/literal-'%'/'_' wildcards " +
                "on a JDBC target (regex operators are " +
                "dialect-specific; rewrite with the target's " +
                "regexp_like or an ESCAPE clause)")
            put("RLIKE")
            lastWord = "rlike"
            pendingSpace = true
            // double the regex's backslashes for Spark's string
            // escaping (the parser folds '\\' back to one)
            put("'" + jetLikeRegex(pat)
              .replace("\\", "\\\\").replace("'", "''") + "'")
          } else {
            put("LIKE")
            lastWord = "like"
            pendingSpace = true
            put(render(Tok("string",
              pat.replace('*', '%').replace('?', '_'))))
          }
          i = litIdx + 1
        } else { put("LIKE"); lastWord = "like"; i += 1 }
      } else {
        put(render(t))
        // every operand token arms the infix-Mod guard (a NUMBER left
        // operand is as valid as a column: `3 Mod 5`); keywords and
        // identifiers also feed the TOP position check
        lastWord = t.text
        i += 1
      }
    }
    limit.foreach(n => sb.append(" LIMIT ").append(n))
    sb.toString.trim
  }

  // ------------------------------------------------------------------
  // PARAMETERS header
  // ------------------------------------------------------------------

  private val paramTypes = Set(
    "text", "char", "datetime", "date", "time", "long", "integer",
    "short", "byte", "single", "double", "ieeesingle", "ieeedouble",
    "currency", "bit", "yesno", "guid")

  /** Parse a leading `PARAMETERS name Type, …;` header. Returns the
    * declarations (sanitized name → lowercase type) and the statement
    * body that follows the ';'. */
  private def stripParameters(toks: Vector[Tok])
      : (Vector[(String, String)], Vector[Tok]) = {
    def nextNonWs(from: Int): Int = {
      var j = from
      while (j < toks.length && toks(j).kind == "ws") j += 1
      j
    }
    val first = nextNonWs(0)
    if (first >= toks.length || !isWord(toks(first), "parameters"))
      return (Vector.empty, toks)
    val decls = Vector.newBuilder[(String, String)]
    var i = nextNonWs(first + 1)
    var done = false
    while (!done) {
      require(i < toks.length &&
        (toks(i).kind == "word" || toks(i).kind == "ident"),
        "jetsql: PARAMETERS expects a parameter name")
      val name = JetTypes.sanitizeName(toks(i).text)
      i = nextNonWs(i + 1)
      require(i < toks.length && toks(i).kind == "word" &&
        paramTypes.contains(toks(i).text.toLowerCase),
        s"jetsql: unsupported PARAMETERS type after [$name]" +
          (if (i < toks.length) s": '${toks(i).text}'" else ""))
      val tpe = toks(i).text.toLowerCase
      i = nextNonWs(i + 1)
      // optional Text(n) size
      if (i < toks.length && toks(i).text == "(" &&
        toks(i).kind == "punct") i = nextNonWs(closeOf(toks, i) + 1)
      decls += ((name, tpe))
      require(i < toks.length && toks(i).kind == "punct" &&
        (toks(i).text == "," || toks(i).text == ";"),
        "jetsql: PARAMETERS declarations must be ','-separated and " +
          "';'-terminated")
      if (toks(i).text == ";") done = true
      i = nextNonWs(i + 1)
    }
    (decls.result(), toks.drop(i))
  }

  /** Render one parameter binding as a SQL literal per its DECLARED
    * Jet type — the declaration drives the rendering, so a Text
    * parameter bound with `"123"` stays a string. */
  private def renderParam(name: String, tpe: String, v: Any): String = {
    def bad(): Nothing = throw new IllegalArgumentException(
      s"jetsql: parameter [$name] declared ${tpe.toUpperCase} cannot " +
        s"be rendered from ${v.getClass.getSimpleName} '$v'")
    tpe match {
      case "text" | "char" | "guid" =>
        "'" + v.toString.replace("'", "''") + "'"
      case "datetime" | "date" | "time" => v match {
        case d: java.time.LocalDate => s"DATE '$d'"
        case t: java.time.LocalDateTime =>
          dateLiteral(t.toLocalDate.toString + " " +
            f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d")
        case d: java.sql.Date => s"DATE '$d'"
        case t: java.sql.Timestamp => dateLiteral(t.toString.take(19))
        case s: String => dateLiteral(s)
        case _ => bad()
      }
      case "long" | "integer" | "short" | "byte" => v match {
        case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
        case s: String if s.matches("-?\\d+") => s
        case _ => bad()
      }
      case "double" | "single" | "ieeedouble" | "ieeesingle" => v match {
        case n @ (_: Double | _: Float | _: Int | _: Long) =>
          new java.math.BigDecimal(n.toString).toPlainString
        case d: BigDecimal => d.bigDecimal.toPlainString
        case d: java.math.BigDecimal => d.toPlainString
        case _ => bad()
      }
      case "currency" => v match {
        case n @ (_: Double | _: Float | _: Int | _: Long) =>
          new java.math.BigDecimal(n.toString)
            .setScale(4, java.math.RoundingMode.HALF_EVEN).toPlainString
        case d: BigDecimal => d.bigDecimal
          .setScale(4, java.math.RoundingMode.HALF_EVEN).toPlainString
        case d: java.math.BigDecimal =>
          d.setScale(4, java.math.RoundingMode.HALF_EVEN).toPlainString
        case _ => bad()
      }
      case "bit" | "yesno" => v match {
        case b: Boolean => if (b) "TRUE" else "FALSE"
        case _ => bad()
      }
      case _ => bad()
    }
  }

  /** Replace every use of a declared parameter with its bound literal
    * (kind `raw`, so `render` passes it through verbatim). Substitution
    * is purely lexical: a parameter whose sanitized name collides with
    * a COLUMN name is substituted there too (Access would resolve the
    * column first) — rename the parameter when porting such a query. */
  private def substituteParams(toks: Vector[Tok],
      decls: Vector[(String, String)],
      params: Map[String, Any]): Vector[Tok] = {
    if (decls.isEmpty) return toks
    val bindings = params.map { case (k, v) =>
      JetTypes.sanitizeName(k) -> v
    }
    val literals: Map[String, String] = decls.map { case (name, tpe) =>
      val v = bindings.getOrElse(name,
        throw new IllegalArgumentException(
          s"jetsql: parameter [$name] (declared ${tpe.toUpperCase}) " +
            "is unbound — pass a value in the params map"))
      name -> renderParam(name, tpe, v)
    }.toMap
    toks.map { t =>
      if ((t.kind == "word" || t.kind == "ident") &&
        literals.contains(JetTypes.sanitizeName(t.text)))
        Tok("raw", literals(JetTypes.sanitizeName(t.text)))
      else t
    }
  }

  // ------------------------------------------------------------------
  // TRANSFORM … PIVOT (crosstab)
  // ------------------------------------------------------------------

  private val crosstabAggs = Map(
    "sum" -> "sum", "count" -> "count", "avg" -> "avg", "min" -> "min",
    "max" -> "max", "stdev" -> "stddev_samp", "var" -> "var_samp")

  private final case class Crosstab(
      aggFn: String, aggArg: Vector[Tok], countStar: Boolean,
      selectList: Vector[Tok], rest: Vector[Tok],
      colExpr: Vector[Tok], items: Option[Vector[Vector[Tok]]])

  private def isCrosstab(toks: Vector[Tok]): Boolean =
    toks.find(_.kind != "ws").exists(isWord(_, "transform"))

  private def parseCrosstab(toks: Vector[Tok]): Crosstab = {
    val trIdx = toks.indexWhere(_.kind != "ws")
    val selIdx = depth0Word(toks, "select", trIdx + 1)
    require(selIdx > 0, "jetsql: TRANSFORM without a SELECT")
    val pivIdx = depth0Word(toks, "pivot", selIdx + 1)
    require(pivIdx > 0, "jetsql: TRANSFORM without a PIVOT clause")

    // aggregate: fn(arg)
    val aggToks = toks.slice(trIdx + 1, selIdx)
    val fnIdx = aggToks.indexWhere(_.kind != "ws")
    require(fnIdx >= 0 && aggToks(fnIdx).kind == "word",
      "jetsql: TRANSFORM expects an aggregate expression")
    val fnName = aggToks(fnIdx).text.toLowerCase
    if (fnName == "first" || fnName == "last")
      fail("crosstab FIRST/LAST (storage-order-dependent)")
    val fn = crosstabAggs.getOrElse(fnName,
      fail(s"crosstab aggregate '${aggToks(fnIdx).text}'"))
    val open = aggToks.indexWhere(t => t.kind == "punct" && t.text == "(",
      fnIdx + 1)
    require(open > 0, "jetsql: TRANSFORM aggregate needs a (…) argument")
    val close = closeOf(aggToks, open)
    val arg = aggToks.slice(open + 1, close)
    val countStar = fnName == "count" &&
      arg.filter(_.kind != "ws").map(_.text) == Vector("*")

    // row-head select list + the FROM…GROUP BY…ORDER BY remainder
    val body = toks.slice(selIdx + 1, pivIdx)
    val fromIdx = depth0Word(body, "from")
    require(fromIdx > 0, "jetsql: crosstab without a FROM clause")
    val selectList = body.take(fromIdx)
    selectList.find(_.kind != "ws").foreach { t =>
      if (isWord(t, "top")) fail("TOP inside a crosstab")
    }

    // PIVOT expr [IN (items)]
    val tail = toks.drop(pivIdx + 1)
    val inIdx = depth0Word(tail, "in")
    val (colExpr, items) =
      if (inIdx < 0) (tail, None)
      else {
        val po = tail.indexWhere(t => t.kind == "punct" && t.text == "(",
          inIdx + 1)
        require(po > 0, "jetsql: PIVOT … IN expects a (…) heading list")
        val pc = closeOf(tail, po)
        (tail.take(inIdx), Some(splitArgs(tail.slice(po + 1, pc))))
      }
    Crosstab(fn, arg, countStar, selectList, body.drop(fromIdx),
      colExpr, items)
  }

  /** Value text → emitted column name: bare if already an identifier,
    * backtick-quoted otherwise (Spark's identifier quoting). */
  private def quoteIdent(s: String): String =
    if (s.matches("[A-Za-z_][A-Za-z0-9_]*")) s
    else "`" + s.replace("`", "``") + "`"

  private def emitCrosstab(ct: Crosstab,
      resolved: Option[Vector[Vector[Tok]]],
      jdbc: Boolean = false): String = {
    val items = ct.items.orElse(resolved).getOrElse(
      fail("a crosstab WITHOUT an IN heading list under pure-text " +
        "translation (Access discovers headings from the data; use " +
        "translateCrosstab(spark, sql) for the bounded DISTINCT probe)"))
    val colSql = emit(ct.colExpr, jdbc)
    val cells = items.map { item =>
      val ts = item.filter(_.kind != "ws")
      require(ts.length == 1 &&
        Set("string", "number", "date").contains(ts.head.kind),
        "jetsql: PIVOT … IN headings must be literals")
      val lit = render(ts.head)
      val caption = ts.head.kind match {
        case "date" => dateLiteral(ts.head.text)
          .split("'")(1) // the ISO body of the literal
        case _ => ts.head.text
      }
      // An Access crosstab cell with NO matching records is Null
      // (blank), for every aggregate: sum/min/max of all-null CASEs
      // are already null, but count would report 0 — NULLIF restores
      // the Jet (and Spark pivot) empty-cell semantics.
      val cell =
        if (ct.countStar)
          s"NULLIF(count(CASE WHEN ($colSql) = $lit THEN 1 END), 0)"
        else if (ct.aggFn == "count")
          s"NULLIF(count(CASE WHEN ($colSql) = $lit THEN " +
            emit(ct.aggArg, jdbc) + " END), 0)"
        else s"${ct.aggFn}(CASE WHEN ($colSql) = $lit THEN " +
          emit(ct.aggArg, jdbc) + " END)"
      s"$cell AS ${quoteIdent(caption)}"
    }
    "SELECT " + emit(ct.selectList, jdbc) + ", " + cells.mkString(", ") +
      " " + emit(ct.rest, jdbc)
  }

  // ------------------------------------------------------------------
  // Entry points
  // ------------------------------------------------------------------

  /** Translate one Jet-SQL statement to Spark-runnable ANSI SQL. */
  def translate(jetSql: String): String = translate(jetSql, Map.empty)

  /** Translate with PARAMETERS bindings (keys matched after the same
    * name sanitization the migration applies, so `"Start Date"` and
    * `"start_date"` both bind `[Start Date]`).
    *
    * `uniqueKeys` (sanitized table name → the column sets its unique
    * indexes cover, both case-insensitive) feeds the tie-faithful TOP
    * n translation: an ORDER BY containing a declared unique key of
    * the scope's single table keeps the `LIMIT n` fast path; anything
    * else gets Access's tie-aware windowed form.
    * [[graft.etl.MigrationPipeline.uniqueKeysFromSpecs]] derives the
    * map from an `.mdb`'s own index catalog. */
  def translate(jetSql: String, params: Map[String, Any],
      uniqueKeys: Map[String, Seq[Set[String]]] = Map.empty,
      textOrder: Boolean = false): String = {
    val (decls, body) = stripParameters(tokenize(jetSql))
    val toks0 = stripTrailingSemi(substituteParams(body, decls, params))
    val toks =
      if (textOrder) textOrderRewrite(toks0, jdbc = false, uniqueKeys)
      else toks0
    if (isCrosstab(toks)) emitCrosstab(parseCrosstab(toks), None)
    else emit(actionQueryRewrites(toks), uniqueKeys = uniqueKeys)
  }

  /** Drop a trailing statement-terminating ';' (the standard Access
    * saved-query form) plus surrounding ws: it is not part of the
    * statement, and left in place it rides into the last clause's
    * tokens — the r11 review caught it landing INSIDE ORDER BY keys,
    * defeating the unique-key proof and corrupting the tie-aware
    * rewrite's emitted SQL. */
  private def stripTrailingSemi(toks: Vector[Tok]): Vector[Tok] = {
    var e = toks.length
    while (e > 0 && toks(e - 1).kind == "ws") e -= 1
    if (e > 0 && toks(e - 1).kind == "punct" && toks(e - 1).text == ";")
      toks.take(e - 1)
    else toks
  }

  /** Translate for a JDBC TARGET database (the action-query path):
    * same rewrites as [[translate]], but BRACKETED identifiers render
    * ANSI-double-quoted — the Spark JDBC writer this engine migrates
    * through creates columns as quoted case-exact identifiers, so an
    * unquoted name would case-fold away from them (Derby folds to
    * upper, PostgreSQL to lower). Identifiers in TABLE position
    * (after FROM/INTO/UPDATE/JOIN) stay bare: the writer passes
    * dbtable through unquoted, so bare names fold identically on both
    * sides — and a table QUALIFIER in a `[Table].[col]` reference
    * stays bare for the same reason. Access queries bracket field
    * references as a matter of style, which is exactly the lexical
    * marker this needs. */
  def translateForJdbc(jetSql: String,
      params: Map[String, Any] = Map.empty,
      uniqueKeys: Map[String, Seq[Set[String]]] = Map.empty,
      textOrder: Boolean = false): String = {
    val (decls, body) = stripParameters(tokenize(jetSql))
    val toks0 = actionQueryRewrites(
      stripTrailingSemi(substituteParams(body, decls, params)),
      jdbc = true)
    val tablePos = Set("from", "into", "update", "join", "using")
    var lastMeaning = ""
    val toks = toks0.zipWithIndex.map { case (t, idx) =>
      // a TABLE QUALIFIER in [Table].[col] must also stay bare: the
      // table itself was created under an unquoted (case-folded)
      // name, so a quoted case-exact qualifier would not resolve on
      // Derby/Postgres. Lexical marker: the next non-ws token is '.'
      def qualifies: Boolean = {
        var j = idx + 1
        while (j < toks0.length && toks0(j).kind == "ws") j += 1
        j < toks0.length && toks0(j).kind == "punct" && toks0(j).text == "."
      }
      val out =
        if (t.kind == "ident" && !tablePos.contains(lastMeaning) &&
          !qualifies)
          Tok("raw", "\"" + t.text + "\"")
        else t
      if (t.kind != "ws") lastMeaning = t.text.toLowerCase
      out
    }
    val toksF =
      if (textOrder) textOrderRewrite(toks, jdbc = true, uniqueKeys)
      else toks
    if (isCrosstab(toksF)) emitCrosstab(parseCrosstab(toksF), None,
      jdbc = true)
    else emit(toksF, jdbc = true, uniqueKeys = uniqueKeys)
  }

  /** Jet ACTION-query dialect fixes. `DELETE * FROM t` (the form the
    * Access designer writes) drops the star — ANSI DELETE takes no
    * select list. `UPDATE a INNER JOIN b ON … SET` is a MERGE in
    * ANSI: on JDBC targets the two-table INNER-JOIN single-target
    * form rewrites to `MERGE INTO target USING source ON … WHEN
    * MATCHED [AND where] THEN UPDATE SET …` (the target is whichever
    * joined table the qualified SET lhs names — Access's own rule;
    * the server raises its standard cardinality error when a target
    * row matches several source rows, where Access would silently
    * update repeatedly: ports correctly or loudly). The engine
    * target still rejects — Spark SQL has no in-place UPDATE at all.
    * Outer joins, join chains, aliases, and unqualified SET lhs
    * reject. Plain UPDATE/DELETE/INSERT…SELECT pass through the
    * normal token rewrites. */
  private def actionQueryRewrites(toks: Vector[Tok],
      jdbc: Boolean = false): Vector[Tok] = {
    val first = toks.indexWhere(_.kind != "ws")
    if (first < 0) return toks
    if (isWord(toks(first), "delete")) {
      var j = first + 1
      while (j < toks.length && toks(j).kind == "ws") j += 1
      if (j < toks.length && toks(j).kind == "punct" &&
        toks(j).text == "*")
        return toks.take(first + 1) ++ toks.drop(j + 1)
      toks
    } else if (isWord(toks(first), "update")) {
      val joinIdx = depth0Word(toks, "join", first + 1)
      val setIdx = depth0Word(toks, "set", first + 1)
      if (joinIdx >= 0 && (setIdx < 0 || joinIdx < setIdx)) {
        if (!jdbc)
          fail("UPDATE … JOIN on the engine target (Spark SQL has no " +
            "in-place UPDATE — run it through runActionQueries on the " +
            "JDBC target, where it becomes an ANSI MERGE; see " +
            "q_merge_upsert for the DataFrame-side equivalent)")
        return updateJoinToMerge(toks, first, setIdx)
      }
      toks
    } else toks
  }

  /** `UPDATE a INNER JOIN b ON cond SET lhs = rhs, … [WHERE w]` →
    * MERGE tokens (JDBC path; see [[actionQueryRewrites]]). */
  private def updateJoinToMerge(
      toks: Vector[Tok], first: Int, setIdx: Int): Vector[Tok] = {
    def word(s: String) = Tok("word", s)
    val ws = Tok("ws", " ")
    def nonWs(ts: Vector[Tok]) = ts.filter(_.kind != "ws")
    def isName(t: Tok) = t.kind == "word" || t.kind == "ident"
    // --- FROM-ish segment: t1 INNER JOIN t2 ON cond
    val seg = toks.slice(first + 1, setIdx)
    val joinRel = depth0Word(seg, "join", 0)
    for (outer <- Seq("left", "right", "outer"))
      if (depth0Word(seg, outer, 0) >= 0 && depth0Word(seg, outer, 0) < joinRel)
        fail("UPDATE … OUTER JOIN (MERGE's WHEN MATCHED only models " +
          "the inner form; an outer update-join has no ANSI twin)")
    val onRel = depth0Word(seg, "on", 0)
    require(joinRel >= 0 && onRel > joinRel, "jetsql: UPDATE JOIN without ON")
    if (depth0Word(seg, "join", joinRel + 1) >= 0)
      fail("UPDATE across a JOIN chain (only the two-table " +
        "UPDATE … INNER JOIN … ON form rewrites to MERGE)")
    val leftToks = nonWs(seg.slice(0, joinRel))
      .filterNot(t => isWord(t, "inner"))
    val rightToks = nonWs(seg.slice(joinRel + 1, onRel))
    (leftToks, rightToks) match {
      case (Vector(l), Vector(rt)) if isName(l) && isName(rt) =>
        val onToks = seg.slice(onRel + 1, seg.length)
        // --- SET assignments: every lhs must be q.c with ONE q
        val whereIdx = depth0Word(toks, "where", setIdx + 1)
        val setEnd = if (whereIdx < 0) toks.length else whereIdx
        val items = splitArgs(toks.slice(setIdx + 1, setEnd))
        val parsed = items.map { item =>
          val ts = item.dropWhile(_.kind == "ws")
          ts.filter(_.kind != "ws") match {
            case q +: d +: c +: eq +: _
              if isName(q) && d.kind == "punct" && d.text == "." &&
                isName(c) && eq.kind == "punct" && eq.text == "=" =>
              // rhs keeps original spacing: everything after the '='
              val eqPos = ts.indexWhere(t =>
                t.kind == "punct" && t.text == "=")
              (q, c, ts.drop(eqPos + 1))
            case _ =>
              fail("UPDATE … JOIN with an unqualified or non-column " +
                "SET target (the MERGE rewrite needs `table.column = " +
                "expr` to pick the target table)")
          }
        }
        val targets = parsed.map(p => skey(p._1.text)).distinct
        if (targets.size != 1)
          fail("UPDATE … JOIN assigning into BOTH tables (MERGE " +
            "updates one target — split into two action queries)")
        val (target, source) =
          if (targets.head == skey(l.text)) (l, rt)
          else if (targets.head == skey(rt.text)) (rt, l)
          else fail("UPDATE … JOIN whose SET target is neither joined " +
            "table")
        val setOut = parsed.zipWithIndex.flatMap { case ((_, c, rhs), k) =>
          val sep: Vector[Tok] =
            if (k == 0) Vector.empty
            else Vector(Tok("punct", ","), ws)
          sep ++ Vector(c, ws, Tok("punct", "="), ws) ++ rhs
        }
        val matched: Vector[Tok] =
          if (whereIdx < 0) Vector.empty
          else Vector(ws, word("AND"), ws, Tok("punct", "(")) ++
            toks.slice(whereIdx + 1, toks.length) :+ Tok("punct", ")")
        Vector(word("MERGE"), ws, word("INTO"), ws, target, ws,
          word("USING"), ws, source, ws, word("ON")) ++
          Vector(ws) ++ onToks ++
          Vector(ws, word("WHEN"), ws, word("MATCHED")) ++ matched ++
          Vector(ws, word("THEN"), ws, word("UPDATE"), ws, word("SET"),
            ws) ++ setOut
      case _ =>
        fail("UPDATE … JOIN with aliased or compound table " +
          "references (only bare two-table UPDATE … INNER JOIN " +
          "rewrites to MERGE)")
    }
  }

  /** Translate EITHER form: crosstabs route through the heading probe
    * when no IN list is present, everything else through the pure-text
    * path. The one entry point view registration needs. */
  def translateAny(spark: SparkSession, jetSql: String,
      params: Map[String, Any] = Map.empty,
      uniqueKeys: Map[String, Seq[Set[String]]] = Map.empty,
      textOrder: Boolean = false): String = {
    val (decls, body) = stripParameters(tokenize(jetSql))
    val toks0 = stripTrailingSemi(substituteParams(body, decls, params))
    val toks =
      if (textOrder) textOrderRewrite(toks0, jdbc = false, uniqueKeys)
      else toks0
    if (isCrosstab(toks)) {
      val ct = parseCrosstab(toks)
      if (ct.items.isDefined) emitCrosstab(ct, None)
      else if (textOrder)
        fail("textOrder with a data-DISCOVERED crosstab (the " +
          "heading probe would need the same rewrite inside its " +
          "DISTINCT scan — declare the headings with IN)")
      else translateCrosstab(spark, jetSql, params)
    } else emit(toks, uniqueKeys = uniqueKeys)
  }

  /** Register Access SAVED QUERIES as Spark temporary views — the
    * whole-database migration step after tables and constraints.
    * Access stores saved queries as parsed attribute rows (not SQL
    * text), so the input here is the SQL-text export every
    * mdb-tooling workflow produces ((name, jetSql) pairs); names are
    * sanitized with the same rule as table/column names, so a saved
    * query that SELECTs from another saved query keeps resolving
    * after both are ported.
    *
    * Saved queries routinely reference each other, and Spark analyzes
    * a CREATE TEMP VIEW body eagerly, so registration runs as a
    * dependency FIXPOINT: each round registers every query whose
    * references now resolve; a round with no progress fails loudly,
    * naming each unresolved query and its error (never a silent
    * partial port). Returns the sanitized view names in registration
    * order. */
  def registerSavedQueries(spark: SparkSession,
      queries: Seq[(String, String)],
      params: Map[String, Any] = Map.empty,
      uniqueKeys: Map[String, Seq[Set[String]]] = Map.empty,
      textOrder: Boolean = false)
      : Seq[String] = {
    var pending = queries.toVector
    val done = Vector.newBuilder[String]
    var progress = true
    while (pending.nonEmpty && progress) {
      progress = false
      val stillPending = Vector.newBuilder[((String, String), String)]
      pending.foreach { case q @ (rawName, jetSql) =>
        val name = JetTypes.sanitizeName(rawName)
        try {
          spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $name AS " +
            translateAny(spark, jetSql, params, uniqueKeys, textOrder))
          done += name
          progress = true
        } catch {
          case e: IllegalArgumentException => throw e // translator: loud
          case scala.util.control.NonFatal(e) =>
            stillPending += ((q, e.getMessage))
        }
      }
      pending = stillPending.result().map(_._1)
      if (!progress && pending.nonEmpty) {
        val detail = stillPending.result()
          .map { case ((n, _), msg) =>
            s"[$n]: ${Option(msg).getOrElse("").linesIterator
              .take(1).mkString}"
          }.mkString("; ")
        throw new IllegalArgumentException(
          s"jetsql: saved queries failed to register after fixpoint " +
            s"(circular or unresolved references?): $detail")
      }
    }
    done.result()
  }

  /** One saved query's port assessment — see [[assessJetQueries]]. */
  final case class JetAssessment(
      name: String,
      kind: String, // "select" | "crosstab" | "action"
      parameterized: Boolean,
      engineOk: Boolean,
      engineSql: Option[String],
      engineError: Option[String],
      jdbcOk: Option[Boolean], // action queries only — they run there
      jdbcSql: Option[String],
      jdbcError: Option[String])

  /** Type-appropriate placeholder for an unbound PARAMETERS decl —
    * assessment judges the query BODY's translatability, not the
    * caller's bindings. */
  private def placeholderFor(tpe: String): Any = tpe match {
    case "text" | "char" | "guid" => "x"
    case "datetime" | "date" | "time" => java.time.LocalDate.of(2000, 1, 1)
    case "long" | "integer" | "short" | "byte" => 1
    case "double" | "single" | "ieeedouble" | "ieeesingle" => 1.0
    case "currency" => BigDecimal(1)
    case "bit" | "yesno" => true
    case _ => "x"
  }

  /** Port-ASSESSMENT over a whole app's saved queries — the "can I
    * switch engines?" report a migration starts with, produced
    * without executing anything. Each (name, jetSql) is classified
    * (select / crosstab / action, parameterized or not) and run
    * through the translator that would actually port it: selects and
    * crosstabs through the engine translation, action queries
    * through the JDBC translation `runActionQueries` uses (they run
    * on the migration TARGET — Spark doesn't row-mutate parquet).
    * Unbound PARAMETERS are assessed with type-appropriate
    * placeholders. Every rejection lands in the report verbatim —
    * the translator's errors name their reasons and escape routes —
    * so the output is the porting WORKLIST, never an exception.
    *
    * `spark` is needed only for data-DISCOVERED crosstab headings
    * (no `IN` list — the probe reads the source tables); without it
    * those report the requirement as their error. */
  def assessJetQueries(queries: Seq[(String, String)],
      spark: Option[SparkSession] = None,
      uniqueKeys: Map[String, Seq[Set[String]]] = Map.empty,
      textOrder: Boolean = false)
      : Seq[JetAssessment] =
    queries.map { case (name, jetSql) =>
      def attempt(f: => String): (Option[String], Option[String]) =
        try { val s = f; (Some(s), None) }
        catch {
          case scala.util.control.NonFatal(e) =>
            (None, Some(Option(e.getMessage).getOrElse(e.toString)))
        }
      try {
        val (decls, body) = stripParameters(tokenize(jetSql))
        val bindings = decls
          .map { case (n, tpe) => n -> placeholderFor(tpe) }.toMap
        val toksB =
          stripTrailingSemi(substituteParams(body, decls, bindings))
        val toks0 =
          if (textOrder)
            textOrderRewrite(toksB, jdbc = false, uniqueKeys)
          else toksB
        def firstWord: String = toks0
          .find(t => t.kind != "ws").map(_.text.toLowerCase)
          .getOrElse("")
        val kind =
          if (isCrosstab(toks0)) "crosstab"
          else if (Set("update", "delete", "insert")(firstWord))
            "action"
          else "select"
        kind match {
          case "action" =>
            val (sql, err) = attempt(
              translateForJdbc(jetSql, bindings, uniqueKeys, textOrder))
            JetAssessment(name, kind, decls.nonEmpty,
              engineOk = false, engineSql = None,
              engineError = Some("action queries run on the " +
                "migration target (runActionQueries), not the " +
                "engine"),
              jdbcOk = Some(err.isEmpty), jdbcSql = sql,
              jdbcError = err)
          case "crosstab" =>
            val (sql, err) = attempt {
              val ct = parseCrosstab(toks0)
              if (ct.items.isDefined) emitCrosstab(ct, None)
              else spark match {
                case Some(s) =>
                  if (textOrder)
                    fail("textOrder with a data-DISCOVERED crosstab " +
                      "(declare the headings with IN)")
                  else translateCrosstab(s, jetSql, bindings)
                case None => fail("crosstab headings are " +
                  "data-DISCOVERED (no IN list) — assess with a " +
                  "SparkSession that has the source tables " +
                  "registered, or declare the headings with IN")
              }
            }
            JetAssessment(name, kind, decls.nonEmpty,
              engineOk = err.isEmpty, engineSql = sql,
              engineError = err, jdbcOk = None, jdbcSql = None,
              jdbcError = None)
          case _ =>
            val (sql, err) =
              attempt(emit(toks0, uniqueKeys = uniqueKeys))
            JetAssessment(name, kind, decls.nonEmpty,
              engineOk = err.isEmpty, engineSql = sql,
              engineError = err, jdbcOk = None, jdbcSql = None,
              jdbcError = None)
        }
      } catch {
        // tokenizer/PARAMETERS-header failures: still a report row
        case scala.util.control.NonFatal(e) =>
          JetAssessment(name, "select", parameterized = false,
            engineOk = false, engineSql = None,
            engineError =
              Some(Option(e.getMessage).getOrElse(e.toString)),
            jdbcOk = None, jdbcSql = None, jdbcError = None)
      }
    }

  /** Translate an Access crosstab whose headings are DISCOVERED from
    * the data (no `IN` list), the way Access itself renders one: a
    * bounded `SELECT DISTINCT` probe over the same FROM/WHERE finds
    * the headings (≤ `maxHeadings` — Access caps crosstabs at 255
    * columns), NULL headings are skipped (Access's `<>` column needs
    * an explicit IN to be addressable), and headings are ordered
    * numerically when numeric, lexically otherwise, so the emitted
    * column order is deterministic regardless of partitioning. */
  def translateCrosstab(spark: SparkSession, jetSql: String,
      params: Map[String, Any] = Map.empty,
      maxHeadings: Int = 64): String = {
    val (decls, body) = stripParameters(tokenize(jetSql))
    val toks = stripTrailingSemi(substituteParams(body, decls, params))
    require(isCrosstab(toks),
      "jetsql: translateCrosstab expects a TRANSFORM statement")
    val ct = parseCrosstab(toks)
    if (ct.items.isDefined) return emitCrosstab(ct, None)
    val gIdx = depth0Word(ct.rest, "group")
    val scope = if (gIdx < 0) ct.rest else ct.rest.take(gIdx)
    val probe = "SELECT DISTINCT " + emit(ct.colExpr) + " AS __jet_h " +
      emit(scope)
    val rows = spark.sql(probe).limit(maxHeadings + 1).collect()
    require(rows.length <= maxHeadings,
      s"jetsql: crosstab heading probe exceeded $maxHeadings distinct " +
        "values — pass an explicit IN list or raise maxHeadings")
    val toks2 = rows.toVector.flatMap(r => Option(r.get(0))).map {
      case n: java.lang.Number => Tok("number", n.toString)
      case s: String => Tok("string", s)
      case d: java.sql.Date => Tok("date", d.toString)
      case d: java.time.LocalDate => Tok("date", d.toString)
      case other => fail(s"crosstab heading of type " +
        s"${other.getClass.getSimpleName}")
    }
    val sorted =
      if (toks2.nonEmpty && toks2.forall(_.kind == "number"))
        toks2.sortBy(_.text.toDouble)
      else toks2.sortBy(_.text)
    emitCrosstab(ct, Some(sorted.map(Vector(_))))
  }
}
