package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType}

import graft.QDef
import graft.sources.TableLoader._

/** Scalar function packs: the Jet-SQL built-in surface mapped to
  * Spark/ANSI (SURVEY.md §2.7) — UCase/LCase/Mid/InStr/Len → upper/
  * lower/substring/instr/length, DatePart/DateDiff/DateAdd → date_part/
  * datediff/add_months, Abs/Int/Sqr/Round → abs/floor/sqrt/round — plus
  * the extension-layer array/map/JSON packs over embeddings and events.
  *
  * Everything is `org.apache.spark.sql.functions._` (whole-stage
  * codegen'd); no UDFs anywhere in these paths.
  */
object ScalarFuncQueries {

  /** Calendar-bucket reporting: revenue by month via date_trunc — the
    * reporting rollup every migrated Access workload has somewhere.
    * Exact decimal accumulation, DOUBLE out; month emitted as DATE
    * (identical truncation on both engines). */
  val qMonthlyRollup: QDef = QDef(
    "q_monthly_rollup",
    """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue
      |FROM orders
      |GROUP BY 1
      |ORDER BY month""".stripMargin) { (s, d) =>
    orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
        .as("month"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("revenue"))
      .orderBy(col("month"))
  }

  /** String pack on customer names (Customer#000000123 shapes). */
  val qStringFuncs: QDef = QDef(
    "q_string_funcs",
    """SELECT c_custkey,
      |  UPPER(c_mktsegment) AS seg_up,
      |  LOWER(c_name) AS name_lo,
      |  SUBSTRING(c_name, 1, 8) AS name_pre,
      |  CAST(STRPOS(c_name, '#') AS BIGINT) AS hash_pos,
      |  CAST(LENGTH(c_name) AS INT) AS name_len,
      |  REPLACE(c_name, 'Customer#', 'C') AS name_short,
      |  c_mktsegment || '/' || c_name AS tagged,
      |  TRIM(CONCAT('  ', c_mktsegment, '  ')) AS seg_trim,
      |  REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS digits
      |FROM customer
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    customer(s, d)
      .select(
        col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_up"),
        lower(col("c_name")).as("name_lo"),
        substring(col("c_name"), 1, 8).as("name_pre"),
        instr(col("c_name"), "#").cast("bigint").as("hash_pos"),
        length(col("c_name")).as("name_len"),
        regexp_replace(col("c_name"), "Customer#", "C").as("name_short"),
        concat(col("c_mktsegment"), lit("/"), col("c_name")).as("tagged"),
        trim(concat(lit("  "), col("c_mktsegment"), lit("  "))).as("seg_trim"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"))
      .orderBy(col("c_custkey"))
  }

  /** Date/time pack on orders. Arg-order traps are encoded once here:
    * Spark `datediff(end, start)` ↔ DuckDB `date_diff('day', start,
    * end)`; both add_months/+INTERVAL clamp to month end. */
  val qDateFuncs: QDef = QDef(
    "q_date_funcs",
    """SELECT o_orderkey,
      |  CAST(date_part('year', o_orderdate) AS INT) AS yr,
      |  CAST(date_part('month', o_orderdate) AS INT) AS mo,
      |  CAST(date_part('day', o_orderdate) AS INT) AS dom,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
      |    AS INT) AS days_to_2002,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
      |    AS plus3mo,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  make_date(2020, 6, 15) AS fixed_date
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    // r15 opt: raw-column sort first, date pack projected above (the
    // range-sampler double-evaluation pattern, see q_variant_funcs)
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey"))
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_trunc("month", col("o_orderdate")).cast("timestamp_ntz")
          .as("month_start"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate"))
          .as("days_to_2002"),
        add_months(col("o_orderdate").cast("date"), 3).as("plus3mo"),
        last_day(col("o_orderdate").cast("date")).as("month_end"),
        make_date(lit(2020), lit(6), lit(15)).as("fixed_date"))
  }

  /** Math pack. pmod has no DuckDB twin → same ((a%b)+b)%b form both
    * sides; irrational outputs ROUNDed. */
  val qMathFuncs: QDef = QDef(
    "q_math_funcs",
    """SELECT l_orderkey, l_linenumber,
      |  ABS(l_discount - 0.05) AS abs_d,
      |  CAST(FLOOR(l_quantity / 7) AS BIGINT) AS qty_bucket,
      |  CAST(CEIL(l_extendedprice / 10000) AS BIGINT) AS price_bucket,
      |  ROUND(SQRT(l_quantity), 4) AS sqrt_qty,
      |  ROUND(LN(l_extendedprice), 4) AS ln_price,
      |  ROUND(EXP(l_discount), 4) AS exp_disc,
      |  ROUND(POW(l_quantity, 2), 2) AS qty_sq,
      |  CAST(SIGN(l_discount - 0.05) AS BIGINT) AS sgn,
      |  CAST(((CAST(l_orderkey AS BIGINT) % 7) + 7) % 7 AS BIGINT) AS key_mod
      |FROM lineitem
      |WHERE l_linenumber = 1 AND l_quantity >= 1
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    // r15 opt: raw-column sort first, math pack projected above (the
    // range-sampler double-evaluation pattern, see q_variant_funcs)
    lineitem(s, d)
      .filter(col("l_linenumber") === 1 && col("l_quantity") >= 1)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_discount"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("abs_d"),
        floor(col("l_quantity") / 7).cast("bigint").as("qty_bucket"),
        ceil(col("l_extendedprice") / 10000).cast("bigint")
          .as("price_bucket"),
        round(sqrt(col("l_quantity")), 4).as("sqrt_qty"),
        round(log(col("l_extendedprice")), 4).as("ln_price"),
        round(exp(col("l_discount")), 4).as("exp_disc"),
        round(pow(col("l_quantity"), 2), 2).as("qty_sq"),
        signum(col("l_discount") - 0.05).cast("bigint").as("sgn"),
        pmod(col("l_orderkey").cast("bigint"), lit(7L)).cast("bigint")
          .as("key_mod"))
  }

  /** Array pack over the 64-dim embedding column: size / element_at /
    * slice-sum / L2 norm via higher-order aggregate — all reduced to
    * scalars (array-typed outputs don't hash-compare portably).
    * Elements cast FLOAT→DOUBLE before arithmetic on both sides; the
    * 64-element left-to-right sums are then IEEE-identical. */
  val qArrayFuncs: QDef = QDef(
    "q_array_funcs",
    """SELECT vec_id,
      |  CAST(len(embedding) AS INT) AS dim,
      |  ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
      |  ROUND(CAST(embedding[64] AS DOUBLE), 6) AS last_elem,
      |  ROUND(list_sum(list_transform(embedding[1:8],
      |    x -> CAST(x AS DOUBLE))), 6) AS head_sum,
      |  ROUND(SQRT(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
      |FROM embeddings
      |ORDER BY vec_id""".stripMargin) { (s, d) =>
    embeddings(s, d)
      .select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 6)
          .as("first_elem"),
        round(element_at(col("embedding"), 64).cast("double"), 6)
          .as("last_elem"),
        round(
          aggregate(
            slice(col("embedding"), 1, 8),
            lit(0.0),
            (acc, x) => acc + x.cast("double")),
          6).as("head_sum"),
        round(
          sqrt(
            aggregate(
              col("embedding"),
              lit(0.0),
              (acc, x) => acc + x.cast("double") * x.cast("double"))),
          6).as("l2_norm"))
      .orderBy(col("vec_id"))
  }

  /** Map pack: parse props JSON → MapType, explode, aggregate per key.
    * (props is {"k": int} — the map path still exercises from_json /
    * explode / key grouping generically.) */
  val qMapFuncs: QDef = QDef(
    "q_map_funcs",
    """SELECT k, COUNT(*) AS n,
      |  CAST(SUM(CAST(v AS BIGINT)) AS BIGINT) AS total
      |FROM (SELECT CAST(json_extract(props, '$.k') AS INT) AS v,
      |             'k' AS k FROM events)
      |WHERE v IS NOT NULL
      |GROUP BY k
      |ORDER BY k""".stripMargin) { (s, d) =>
    // WHERE v IS NOT NULL mirrors explode-of-map semantics: a row with
    // null/empty props contributes no map entries on the Spark side
    events(s, d)
      .select(
        explode(
          from_json(col("props"), MapType(StringType, IntegerType)))
          .as(Seq("k", "v")))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v").cast("bigint")).as("total"))
      .orderBy(col("k"))
  }

  /** JSON extraction: $.k value buckets (Core-ETL semi-structured
    * column handling). */
  val qJsonFuncs: QDef = QDef(
    "q_json_funcs",
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) // 10
      |    AS bucket,
      |  COUNT(*) AS n
      |FROM events
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    events(s, d)
      .select(
        floor(get_json_object(col("props"), "$.k").cast("int") / 10)
          .cast("int").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  /** Calendar-dimension generator (the classic warehouse ETL move:
    * build the date spine with a sequence, no source table). Spark
    * `sequence`+`explode` ↔ DuckDB `generate_series`+`unnest`; day-of-
    * week via ISO numbering on both sides (Spark's `dayofweek` is
    * 1=Sunday, `weekday`+1 is ISO 1=Monday = DuckDB `isodow`). */
  val qDateSeries: QDef = QDef(
    "q_date_series",
    """SELECT CAST(d AS TIMESTAMP) AS day,
      |  CAST(year(d) AS INT) AS yr, CAST(month(d) AS INT) AS mo,
      |  CAST(isodow(d) AS INT) AS dow,
      |  (isodow(d) >= 6) AS is_weekend
      |FROM (SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
      |        TIMESTAMP '1995-12-31', INTERVAL 1 DAY)) AS d)
      |ORDER BY day""".stripMargin) { (s, _) =>
    s.range(1)
      .select(explode(sequence(
        lit("1995-01-01 00:00:00").cast("timestamp_ntz"),
        lit("1995-12-31 00:00:00").cast("timestamp_ntz"),
        expr("INTERVAL 1 DAY"))).as("day"))
      .select(
        col("day"),
        year(col("day")).cast("int").as("yr"),
        month(col("day")).cast("int").as("mo"),
        (weekday(col("day")) + 1).cast("int").as("dow"),
        (weekday(col("day")) + 1 >= 6).as("is_weekend"))
      .orderBy(col("day"))
  }

  /** IANA timezone conversion (the migration question every UTC lake
    * eventually answers: "what was the user's LOCAL time?"):
    * `convert_timezone` over NTZ timestamps, winter + summer rows so
    * DST offsets are exercised on both sides (Spark and DuckDB both
    * carry the IANA tzdb). */
  val qTzConvert: QDef = QDef(
    "q_tz_convert",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS utc,
      |  CAST(ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York'
      |    AS TIMESTAMP) AS ny,
      |  CAST(ts AT TIME ZONE 'UTC' AT TIME ZONE 'Asia/Tokyo'
      |    AS TIMESTAMP) AS tokyo
      |FROM events
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    events(s, d)
      .select(col("event_id"),
        col("ts").cast("timestamp_ntz").as("utc"))
      .select(col("event_id"), col("utc"),
        convert_timezone(lit("UTC"), lit("America/New_York"),
          col("utc")).as("ny"),
        convert_timezone(lit("UTC"), lit("Asia/Tokyo"), col("utc"))
          .as("tokyo"))
      .orderBy(col("event_id"))
  }

  /** Array pack #2 — the set/ordering half of the list toolkit:
    * array_distinct / array_sort / reverse / flatten over token
    * arrays, element containment, and a zip_with pairing — DuckDB's
    * list_* family mirrors each one. */
  val qArrayFuncs2: QDef = QDef(
    "q_array_funcs2",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ')[1:12] AS w
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(list_distinct(w)) AS INT) AS n_uniq,
      |  list_sort(list_distinct(w))[1] AS first_tok,
      |  list_reverse(list_sort(list_distinct(w)))[1] AS last_tok,
      |  CAST(list_contains(w, 'the') AS BOOLEAN) AS has_the,
      |  CAST(len(flatten([w[1:3], w[4:6]])) AS INT) AS n_flat,
      |  list_transform(list_zip(w[1:3], w[2:4]),
      |    p -> concat(p[1], '_', p[2]))[1] AS bigram1
      |FROM t
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    documents(s, d)
      .select(col("doc_id"),
        slice(split(col("text"), " "), 1, 12).as("w"))
      .select(col("doc_id"),
        size(array_distinct(col("w"))).as("n_uniq"),
        element_at(array_sort(array_distinct(col("w"))), 1)
          .as("first_tok"),
        element_at(reverse(array_sort(array_distinct(col("w")))), 1)
          .as("last_tok"),
        array_contains(col("w"), "the").as("has_the"),
        size(flatten(array(slice(col("w"), 1, 3),
          slice(col("w"), 4, 3)))).as("n_flat"),
        element_at(zip_with(slice(col("w"), 1, 3),
          slice(col("w"), 2, 3),
          (a, b) => concat(a, lit("_"), b)), 1).as("bigram1"))
      .orderBy(col("doc_id"))
  }

  /** String pack #2 — padding/translation/slicing (the rest of the
    * Access String$/Space$/StrReverse idiom set): lpad/rpad, translate,
    * repeat, reverse, left/right slices, split_part. */
  val qStringFuncs2: QDef = QDef(
    "q_string_funcs2",
    """SELECT c_custkey,
      |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
      |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS devoweled,
      |  repeat('-', CAST(c_custkey % 5 AS INT) + 1) AS dashes,
      |  reverse(c_mktsegment) AS rev,
      |  left(c_name, 8) AS l8,
      |  right(c_name, 3) AS r3,
      |  split_part(c_name, '#', 2) AS after_hash
      |FROM customer
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    customer(s, d)
      .select(col("c_custkey"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou")
          .as("devoweled"),
        repeat(lit("-"), (col("c_custkey") % 5).cast("int") + 1)
          .as("dashes"),
        reverse(col("c_mktsegment")).as("rev"),
        substring(col("c_name"), 1, 8).as("l8"),
        expr("right(c_name, 3)").as("r3"),
        element_at(split(col("c_name"), "#"), 2).as("after_hash"))
      .orderBy(col("c_custkey"))
  }

  /** WITH RECURSIVE month spine (Spark 4's recursive CTE) LEFT-joined
    * to monthly revenue with zero-fill — the recursion is literal-
    * bounded (~80 iterations, one row each) so it runs entirely on
    * the driver side of the plan and the fact-side join still
    * shuffles/aggregates distributed; the spine bound is fixed, so
    * output months beyond the data zero-fill identically in both
    * engines. This is the engine's generate_series-free spine for
    * engines (and SQL dialects) without it. */
  val qRecursiveSpine: QDef = QDef(
    "q_recursive_spine",
    """WITH RECURSIVE spine(mon) AS (
      |  SELECT DATE '1995-01-01'
      |  UNION ALL
      |  SELECT CAST(mon + INTERVAL 1 MONTH AS DATE) FROM spine
      |  WHERE mon < DATE '2001-08-01')
      |SELECT spine.mon,
      |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0)
      |    AS DOUBLE) AS revenue,
      |  CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
      |FROM spine LEFT JOIN orders
      |  ON CAST(date_trunc('month', o_orderdate) AS DATE) = spine.mon
      |GROUP BY spine.mon
      |ORDER BY mon""".stripMargin) { (s, d) =>
    orders(s, d).createOrReplaceTempView("orders_rec_v")
    s.sql("""WITH RECURSIVE spine(mon) AS (
      |  SELECT DATE '1995-01-01'
      |  UNION ALL
      |  SELECT CAST(mon + INTERVAL '1' MONTH AS DATE) FROM spine
      |  WHERE mon < DATE '2001-08-01')
      |SELECT spine.mon,
      |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0)
      |    AS DOUBLE) AS revenue,
      |  CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
      |FROM spine LEFT JOIN orders_rec_v
      |  ON CAST(date_trunc('month', o_orderdate) AS DATE) = spine.mon
      |GROUP BY spine.mon
      |ORDER BY mon""".stripMargin)
  }

  /** VARIANT semi-structured navigation (Spark 4's open JSON type —
    * parse once into a binary-encoded variant, then typed path
    * extraction without re-parsing per field): `parse_json` →
    * `variant_get` with target types, `try_variant_get` returning NULL
    * for an absent path instead of erroring, and extraction from a
    * column-assembled nested document. The oracle navigates the same
    * JSON with DuckDB's json_extract family — Variant is the engine's
    * representation choice, the SEMANTICS are plain JSON-path typing.
    * Pure map-side expression work: the variant never leaves the
    * projection, so at scale this is a single codegen'd scan. */
  val qVariantFuncs: QDef = QDef(
    "q_variant_funcs",
    """SELECT event_id,
      |  CAST(json_extract(props, '$.k') AS INT) AS k_int,
      |  json_extract_string(props, '$.k') AS k_str,
      |  CAST(json_extract(props, '$.absent') AS INT) AS absent_int,
      |  CAST(CAST(json_extract(props, '$.k') AS INT) % 10 AS INT)
      |    AS k_mod,
      |  CAST(json_extract('{"u":{"id":' || CAST(user_id AS VARCHAR)
      |    || '}}', '$.u.id') AS BIGINT) AS nested_id
      |FROM events
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    val v = parse_json(col("props"))
    val nested = parse_json(concat(lit("{\"u\":{\"id\":"),
      col("user_id").cast("string"), lit("}}")))
    // r15 opt (guide §1.2 don't-compute-twice): the global orderBy's
    // range partitioner SAMPLES its child to pick bounds, so a heavy
    // projection below the sort executes TWICE per run. Sorting the
    // narrow scan first and projecting ABOVE the sort keeps the
    // variant parse/extract single-pass (sort order is preserved
    // through a project; rows and order identical). Measured 1.42 →
    // 0.80 s isolated (pyspark A/B, plan pinned: Project above Sort).
    events(s, d)
      .select(col("event_id"), col("user_id"), col("props"))
      .orderBy(col("event_id"))
      .select(
        col("event_id"),
        variant_get(v, "$.k", "int").as("k_int"),
        variant_get(v, "$.k", "string").as("k_str"),
        try_variant_get(v, "$.absent", "int").as("absent_int"),
        (variant_get(v, "$.k", "int") % 10).as("k_mod"),
        variant_get(nested, "$.u.id", "bigint").as("nested_id"))
  }

  /** URL parsing pack (the web-corpus curation staple — canonical URL
    * keys drive whole dedup stages): documents get deterministic
    * synthetic URLs assembled from their own columns, then host / path /
    * a single query parameter are extracted with Spark's native
    * `parse_url` (codegen'd) while the oracle does the equivalent
    * regex extraction — same strings out, two independent parsers. */
  val qUrlFuncs: QDef = QDef(
    "q_url_funcs",
    """WITH u AS (
      |  SELECT doc_id,
      |    'https://' || source || '.example.com/docs/' ||
      |      CAST(doc_id AS VARCHAR) || '?lang=' || lang || '&n=' ||
      |      CAST(n_chars AS VARCHAR) AS url
      |  FROM documents)
      |SELECT doc_id,
      |  regexp_extract(url, 'https?://([^/]+)', 1) AS host,
      |  regexp_extract(url, '^[^.]*//([^.]+)', 1) AS subdomain,
      |  regexp_extract(url, 'https?://[^/]+(/[^?]*)', 1) AS path,
      |  regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param,
      |  CAST(regexp_extract(url, '[?&]n=([^&]*)', 1) AS BIGINT)
      |    AS n_param
      |FROM u
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val url = concat(lit("https://"), col("source"),
      lit(".example.com/docs/"), col("doc_id").cast("string"),
      lit("?lang="), col("lang"), lit("&n="),
      col("n_chars").cast("string"))
    documents(s, d)
      .select(col("doc_id"), url.as("url"))
      .select(
        col("doc_id"),
        parse_url(col("url"), lit("HOST")).as("host"),
        substring_index(parse_url(col("url"), lit("HOST")), ".", 1)
          .as("subdomain"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY"), lit("lang"))
          .as("lang_param"),
        parse_url(col("url"), lit("QUERY"), lit("n")).cast("bigint")
          .as("n_param"))
      .orderBy(col("doc_id"))
  }

  /** Trigonometric pack at 4dp (the one libm-sensitive family the
    * scalar surface hadn't pinned cross-engine): sin/cos/tan on small
    * integer quantities, atan2 on (quantity, linenumber), asin on a
    * bounded ratio, degrees/radians round-trips. */
  val qTrigFuncs: QDef = QDef(
    "q_trig_funcs",
    """SELECT l_orderkey, l_linenumber,
      |  ROUND(SIN(l_quantity), 4) AS sin_q,
      |  ROUND(COS(l_quantity), 4) AS cos_q,
      |  ROUND(TAN(l_quantity), 4) AS tan_q,
      |  ROUND(ATAN2(l_quantity, l_linenumber), 4) AS at2,
      |  ROUND(ASIN(l_discount * 2), 4) AS asin_d,
      |  ROUND(DEGREES(ATAN(l_quantity / 50.0)), 4) AS deg_atan,
      |  ROUND(RADIANS(l_quantity), 4) AS rad_q
      |FROM lineitem
      |WHERE l_linenumber = 1 AND l_quantity <= 10
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    // r15 opt: sort the raw columns, project the trig pack ABOVE the
    // sort — the range sampler otherwise evaluates all 7 libm calls
    // twice per run (see q_variant_funcs for the measured pattern)
    lineitem(s, d)
      .filter(col("l_linenumber") === 1 && col("l_quantity") <= 10)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(sin(col("l_quantity")), 4).as("sin_q"),
        round(cos(col("l_quantity")), 4).as("cos_q"),
        round(tan(col("l_quantity")), 4).as("tan_q"),
        round(atan2(col("l_quantity"), col("l_linenumber")), 4)
          .as("at2"),
        round(asin(col("l_discount") * 2), 4).as("asin_d"),
        round(degrees(atan(col("l_quantity") / 50.0)), 4)
          .as("deg_atan"),
        round(radians(col("l_quantity")), 4).as("rad_q"))
  }

  val defs: Seq[QDef] = Seq(
    qStringFuncs, qDateFuncs, qMathFuncs, qArrayFuncs, qMapFuncs,
    qJsonFuncs, qDateSeries, qMonthlyRollup, qTzConvert, qArrayFuncs2,
    qStringFuncs2, qRecursiveSpine, qVariantFuncs, qUrlFuncs,
    qTrigFuncs)
}
