package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** §2.H — scalar function suites (string / date / math / array / map /
  * json / conditional / hash).
  *
  * Scale notes: everything here is a built-in Catalyst expression —
  * whole-stage-codegen'd, per-row, no shuffle beyond the final
  * deterministic ORDER BY. Int-typed results are cast to BIGINT on both
  * sides (Spark year()/datediff() are int32, DuckDB's are int64).
  */
object ScalarFns {

  /** First-10-hex-nibbles→BIGINT polynomial — 40-bit variant of the
    * Ops.SQL_HEX15 device, mirrors conv(h,16,10) exactly.
    */
  private def SQL_HEX10(h: String): String =
    (1 to 10).map(p =>
      s"(strpos('0123456789abcdef', substr($h, $p, 1)) - 1) * ${1L << (4 * (10 - p))}")
      .mkString("(", " + ", ")")

  /** Crockford base-32 encoding of an n-char-wide BIGINT by div/mod
    * digit indexing — the DuckDB mirror of fn_ulid_sortable's Spark
    * transform.
    */
  private def SQL_B32(src: String, nchars: Int): String = {
    val digits = (0 until nchars).map { k =>
      s"""substr('0123456789ABCDEFGHJKMNPQRSTVWXYZ',
         |      CAST(($src // CAST(${1L << (5 * (nchars - 1 - k))} AS BIGINT))
         |        % 32 AS INT) + 1, 1)""".stripMargin
    }
    digits.mkString("(", " || ", ")")
  }

  val queries: Seq[Q] = Seq(
    Q("fn_string_suite",
      (s, d) => Tables.part(s, d)
        .select(col("p_partkey"),
          concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
          substring(col("p_name"), 1, 5).as("name5"),
          upper(col("p_name")).as("name_up"),
          lower(col("p_type")).as("type_lo"),
          trim(col("p_name")).as("name_trim"),
          lpad(col("p_type"), 10, ".").as("type_pad"),
          length(col("p_name")).cast("long").as("name_len"),
          size(split(col("p_name"), " ")).cast("long").as("n_words"),
          regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).as("brand_num"),
          regexp_replace(col("p_name"), "[aeiou]", "*").as("name_devowel"),
          levenshtein(col("p_brand"), lit("Brand#11")).cast("long").as("brand_dist"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
             |p_brand || ':' || p_type AS brand_type,
             |substring(p_name, 1, 5) AS name5,
             |upper(p_name) AS name_up,
             |lower(p_type) AS type_lo,
             |trim(p_name) AS name_trim,
             |lpad(p_type, 10, '.') AS type_pad,
             |CAST(length(p_name) AS BIGINT) AS name_len,
             |CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words,
             |regexp_extract(p_brand, 'Brand#(\d+)', 1) AS brand_num,
             |regexp_replace(p_name, '[aeiou]', '*', 'g') AS name_devowel,
             |CAST(levenshtein(p_brand, 'Brand#11') AS BIGINT) AS brand_dist
             |FROM part ORDER BY p_partkey""".stripMargin)),

    Q("fn_date_suite",
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long").as("epoch_days"),
          add_months(col("o_orderdate").cast("date"), 3).as("plus_3m"),
          to_date(date_format(col("o_orderdate"), "yyyy-MM-dd"), "yyyy-MM-dd")
            .as("roundtrip_day"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
             |year(o_orderdate) AS yr,
             |month(o_orderdate) AS mo,
             |day(o_orderdate) AS dom,
             |date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS epoch_days,
             |CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3m,
             |CAST(strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d') AS DATE) AS roundtrip_day
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    Q("fn_math_suite",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(sqrt(col("l_extendedprice")), 4).as("sqrt_price"),
          round(log(col("l_extendedprice")), 4).as("ln_price"),
          round(exp(col("l_discount")), 4).as("exp_disc"),
          round(pow(col("l_quantity"), 2), 4).as("qty_sq"),
          abs(col("l_discount") - 0.05).cast("double").as("disc_dev"),
          ceil(col("l_extendedprice")).cast("long").as("price_ceil"),
          floor(col("l_extendedprice")).cast("long").as("price_floor"),
          signum(col("l_discount") - 0.05).cast("double").as("disc_sign"),
          pmod(col("l_partkey"), lit(7)).cast("long").as("partkey_mod7"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |ROUND(sqrt(l_extendedprice), 4) AS sqrt_price,
             |ROUND(ln(l_extendedprice), 4) AS ln_price,
             |ROUND(exp(l_discount), 4) AS exp_disc,
             |ROUND(pow(l_quantity, 2), 4) AS qty_sq,
             |abs(l_discount - 0.05) AS disc_dev,
             |CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
             |CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
             |CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
             |CAST((l_partkey % 7 + 7) % 7 AS BIGINT) AS partkey_mod7
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Geospatial scalar suite: haversine great-circle distance to a
    // fixed point + bounding-box containment, on synthetic-but-
    // deterministic coordinates derived from the customer key (pure
    // hash-free integer arithmetic, identical on any engine). All trig
    // is per-row expression work under whole-stage codegen; ROUND(…,3)
    // on the km result absorbs cross-libm ulp differences, the same
    // device fn_math_suite uses for ln/exp.
    Q("fn_geo_suite",
      (s, d) => {
        val c = Tables.customer(s, d)
          .withColumn("lat",
            (col("c_custkey") % 17000).cast("double") / 100.0 - 85.0)
          .withColumn("lon",
            (col("c_custkey") * 7 % 36000).cast("double") / 100.0 - 180.0)
        val lat1 = radians(col("lat"))
        val lat2 = radians(lit(40.7128))
        val a = pow(sin((lat2 - lat1) / 2), 2) +
          cos(lat1) * cos(lat2) *
            pow(sin((radians(lit(-74.006)) - radians(col("lon"))) / 2), 2)
        c.select(col("c_custkey"), col("lat"), col("lon"),
          round(lit(2 * 6371.0088) * asin(sqrt(a)), 3).as("dist_nyc_km"),
          (col("lat").between(30, 50) && col("lon").between(-90, -60))
            .as("in_bbox"))
          .orderBy("c_custkey")
      },
      Some("""WITH c AS (SELECT c_custkey,
             |  CAST(c_custkey % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat,
             |  CAST(c_custkey * 7 % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon
             |  FROM customer)
             |SELECT c_custkey, lat, lon,
             |  ROUND(2 * 6371.0088 * asin(sqrt(
             |    pow(sin((radians(40.7128) - radians(lat)) / 2), 2) +
             |    cos(radians(lat)) * cos(radians(40.7128)) *
             |    pow(sin((radians(-74.006) - radians(lon)) / 2), 2))), 3)
             |    AS dist_nyc_km,
             |  (lat BETWEEN 30 AND 50) AND (lon BETWEEN -90 AND -60) AS in_bbox
             |FROM c ORDER BY c_custkey""".stripMargin)),

    // Higher-order functions over the 64-dim float vectors — no UDFs.
    // Floats are cast to double BEFORE arithmetic on both sides so the
    // sequential fold accumulates identically.
    Q("fn_array_suite",
      (s, d) => Tables.embeddings(s, d)
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dims"),
          element_at(col("embedding"), 1).cast("double").as("first_val"),
          size(filter(col("embedding"), x => x > lit(0.0f))).cast("long").as("n_pos"),
          round(
            sqrt(aggregate(
              transform(col("embedding"), x => x.cast("double") * x.cast("double")),
              lit(0.0), (acc, x) => acc + x)),
            4).as("l2_norm"),
          array_contains(col("embedding"), lit(0.0f)).as("has_zero"))
        .orderBy("vec_id"),
      Some("""SELECT vec_id,
             |CAST(len(embedding) AS BIGINT) AS dims,
             |CAST(embedding[1] AS DOUBLE) AS first_val,
             |CAST(len(list_filter(embedding, x -> x > 0.0)) AS BIGINT) AS n_pos,
             |ROUND(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
             |list_contains(embedding, 0.0) AS has_zero
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    Q("fn_map_json",
      (s, d) => Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"),
          map_keys(from_json(col("props"), lit("map<string,bigint>")))
            .getItem(0).as("first_key"),
          size(map_keys(from_json(col("props"), lit("map<string,bigint>"))))
            .cast("long").as("n_keys"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |CAST(props->>'$.k' AS BIGINT) AS k_val,
             |json_keys(props)[1] AS first_key,
             |CAST(len(json_keys(props)) AS BIGINT) AS n_keys
             |FROM events ORDER BY event_id""".stripMargin)),

    Q("fn_conditional",
      (s, d) => Tables.customer(s, d)
        .select(col("c_custkey"),
          when(col("c_acctbal") > 5000.0, "GOLD")
            .when(col("c_acctbal") > 1000.0, "SILVER")
            .otherwise("BRONZE").as("tier"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("B_NULL"))
            .as("seg_nvl"),
          greatest(col("c_acctbal"), lit(0.0)).as("bal_pos"),
          least(col("c_acctbal"), lit(0.0)).as("bal_neg"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey,
             |CASE WHEN c_acctbal > 5000.0 THEN 'GOLD'
             |     WHEN c_acctbal > 1000.0 THEN 'SILVER'
             |     ELSE 'BRONZE' END AS tier,
             |COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'B_NULL') AS seg_nvl,
             |greatest(c_acctbal, 0.0) AS bal_pos,
             |least(c_acctbal, 0.0) AS bal_neg
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    Q("fn_bitwise",
      (s, d) => Tables.part(s, d)
        .select(col("p_partkey"),
          (col("p_partkey").bitwiseAND(lit(255L))).as("and255"),
          (col("p_partkey").bitwiseOR(lit(16L))).as("or16"),
          (col("p_partkey").bitwiseXOR(col("p_size").cast("long"))).as("xor_size"),
          shiftleft(col("p_partkey"), 2).as("shl2"),
          shiftright(col("p_partkey"), 1).as("shr1"),
          bitwise_not(col("p_partkey")).as("flipped"),
          bit_count(col("p_partkey")).cast("long").as("popcount"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
             |p_partkey & 255 AS and255,
             |p_partkey | 16 AS or16,
             |xor(p_partkey, CAST(p_size AS BIGINT)) AS xor_size,
             |p_partkey << 2 AS shl2,
             |p_partkey >> 1 AS shr1,
             |~p_partkey AS flipped,
             |CAST(bit_count(p_partkey) AS BIGINT) AS popcount
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // Array set algebra over token arrays; results sorted on both sides
    // (engines differ on intersect/union element order, not content)
    // and serialized to CSV strings at the output boundary (the
    // driver's pandas sort cannot hash array cells).
    Q("fn_array_setops",
      (s, d) => Tables.part(s, d)
        .select(col("p_partkey"),
          split(col("p_name"), " ", -1).as("na"),
          split(col("p_type"), " ", -1).as("ta"))
        .select(col("p_partkey"),
          concat_ws(",", array_sort(array_union(col("na"), col("ta")))).as("u"),
          concat_ws(",", array_sort(array_intersect(col("na"), col("ta")))).as("i"),
          concat_ws(",", array_sort(array_except(col("na"), col("ta")))).as("e"),
          concat_ws(",", array_sort(flatten(array(col("na"), col("ta"))))).as("f"),
          concat_ws(",", array_sort(array_distinct(col("na")))).as("dd"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
             |COALESCE(array_to_string(list_sort(list_distinct(na || ta)), ','), '') AS u,
             |COALESCE(array_to_string(list_sort(list_intersect(na, ta)), ','), '') AS i,
             |COALESCE(array_to_string(list_sort(list_filter(list_distinct(na), x -> NOT list_contains(ta, x))), ','), '') AS e,
             |COALESCE(array_to_string(list_sort(flatten([na, ta])), ','), '') AS f,
             |COALESCE(array_to_string(list_sort(list_distinct(na)), ','), '') AS dd
             |FROM (SELECT p_partkey, string_split(p_name, ' ') AS na,
             |      string_split(p_type, ' ') AS ta FROM part) x
             |ORDER BY p_partkey""".stripMargin)),

    // Struct assembly + field access (output flattened to scalars so
    // the value compare stays engine-neutral).
    Q("fn_struct_ops",
      (s, d) => Tables.customer(s, d)
        .select(col("c_custkey"),
          struct(col("c_name").as("name"), col("c_acctbal").as("bal"),
            struct(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"))
              .as("seg_info")).as("profile"))
        .select(col("c_custkey"),
          col("profile.name").as("name"),
          col("profile.bal").as("bal"),
          col("profile.seg_info.seg").as("seg"),
          col("profile.seg_info.nat").as("nat"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, profile.name AS name, profile.bal AS bal,
             |profile.seg_info.seg AS seg, profile.seg_info.nat AS nat
             |FROM (SELECT c_custkey,
             |  {'name': c_name, 'bal': c_acctbal,
             |   'seg_info': {'seg': c_mktsegment, 'nat': c_nationkey}} AS profile
             |  FROM customer) t
             |ORDER BY c_custkey""".stripMargin)),

    // xxhash64/murmur3 deliberately NOT oracled (Spark-specific seeds);
    // md5/sha256 are standard and portable.
    Q("fn_hash",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          md5(col("text")).as("md5_hex"),
          sha2(col("text"), 256).as("sha256_hex"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Second datetime wave: quarter/week/day-part extraction, month-end,
    // quarter truncation. Dialect parity notes: Spark dayofweek is
    // 1=Sunday..7, DuckDB's is 0=Sunday..6 (mirrored with +1); both
    // weekofyear/dayofyear are ISO-identical.
    Q("fn_datetime2",
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
          dayofweek(col("o_orderdate")).cast("long").as("dow_sun1"),
          dayofyear(col("o_orderdate")).cast("long").as("doy"),
          last_day(col("o_orderdate")).as("month_end"),
          date_trunc("quarter", col("o_orderdate")).cast("date").as("q_start"),
          make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1))
            .as("month_start"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |CAST(quarter(o_orderdate) AS BIGINT) AS q,
             |CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
             |CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow_sun1,
             |CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
             |last_day(CAST(o_orderdate AS DATE)) AS month_end,
             |CAST(date_trunc('quarter', o_orderdate) AS DATE) AS q_start,
             |make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1) AS month_start
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Second string wave: translate/repeat/reverse/ascii/chr/left/right
    // (all portable; initcap/format_number deliberately skipped — no
    // DuckDB twin with identical semantics).
    Q("fn_string2",
      (s, d) => Tables.part(s, d)
        .select(col("p_partkey"),
          translate(col("p_name"), "aeiou", "AEIOU").as("name_caps_vowels"),
          repeat(substring(col("p_brand"), 1, 5), 2).as("brand_x2"),
          reverse(col("p_type")).as("type_rev"),
          ascii(col("p_name")).cast("long").as("first_ascii"),
          chr(lit(65) + col("p_partkey") % 26).as("letter"),
          expr("left(p_name, 6)").as("name_l6"),
          expr("right(p_type, 4)").as("type_r4"),
          col("p_type").contains("BRASS").as("is_brass"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
             |translate(p_name, 'aeiou', 'AEIOU') AS name_caps_vowels,
             |repeat(substring(p_brand, 1, 5), 2) AS brand_x2,
             |reverse(p_type) AS type_rev,
             |CAST(ascii(p_name) AS BIGINT) AS first_ascii,
             |chr(CAST(65 + p_partkey % 26 AS INT)) AS letter,
             |left(p_name, 6) AS name_l6,
             |right(p_type, 4) AS type_r4,
             |contains(p_type, 'BRASS') AS is_brass
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // Generator breadth beyond posexplode: a literal-bounded sequence
    // per row, exploded — the lateral row-multiplying shape (calendar
    // spines, retry fan-outs) with deterministic cardinality.
    Q("fn_sequence_explode",
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"),
          explode(sequence(lit(1L), quarter(col("o_orderdate")).cast("long")))
            .as("q_idx"))
        .orderBy("o_orderkey", "q_idx"),
      Some("""SELECT o_orderkey, CAST(unnest(generate_series(1, quarter(o_orderdate))) AS BIGINT) AS q_idx
             |FROM orders ORDER BY o_orderkey, q_idx""".stripMargin)),

    // Interval arithmetic: literal month/day/minute intervals on
    // timestamps. Month addition clamps to month end identically in
    // both engines; outputs leave as DATE / formatted string so no
    // timestamp binary-encoding ambiguity reaches the compare.
    Q("fn_interval_suite",
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"),
          (col("o_orderdate") + expr("INTERVAL 3 MONTH")).cast("date").as("plus_3mo"),
          (col("o_orderdate") - expr("INTERVAL 45 DAY")).cast("date").as("minus_45d"),
          date_format(col("o_orderdate") + expr("INTERVAL 2190 MINUTE"),
            "yyyy-MM-dd HH:mm:ss").as("plus_2190min"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3mo,
             |CAST(o_orderdate - INTERVAL 45 DAY AS DATE) AS minus_45d,
             |strftime(o_orderdate + INTERVAL 2190 MINUTE, '%Y-%m-%d %H:%M:%S') AS plus_2190min
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ANSI-safe "try" variants: under Spark 4's default ANSI mode a bad
    // cast / division-by-zero / out-of-bounds index THROWS; the try_*
    // family returns NULL instead — the contract a 100 TB pipeline
    // wants (one poison row must not kill a 10-hour job). DuckDB
    // mirrors with TRY_CAST, a zero-guard CASE (its / errors on
    // integer zero), and native out-of-bounds list NULLs.
    Q("fn_try_suite",
      (s, d) => Tables.part(s, d)
        .select(col("p_partkey"),
          expr("try_divide(p_retailprice, p_partkey % 7)").as("per_mod"),
          expr("try_cast(p_brand AS INT)").as("brand_as_int"),
          expr("try_cast(regexp_extract(p_brand, '([0-9]+)', 1) AS INT)")
            .cast("long").as("brand_num"),
          expr("try_element_at(split(p_name, ' '), 10)").as("word10"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
             |CASE WHEN p_partkey % 7 = 0 THEN NULL
             |     ELSE p_retailprice / (p_partkey % 7) END AS per_mod,
             |TRY_CAST(p_brand AS INT) AS brand_as_int,
             |CAST(TRY_CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INT) AS BIGINT) AS brand_num,
             |string_split(p_name, ' ')[10] AS word10
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // Binary columns: encode/decode, base64, hex/unhex roundtrips over
    // utf-8 blobs — the opaque-bytes plumbing multimodal pipelines rely
    // on (mm_binary_features is the mapPartitions side; this is the
    // expression side).
    Q("fn_binary_suite",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          octet_length(encode(col("text"), "utf-8")).cast("long").as("n_bytes"),
          base64(encode(substring(col("text"), 1, 12), "utf-8")).as("b64_prefix"),
          hex(substring(col("text"), 1, 8)).as("hex_prefix"),
          decode(unhex(hex(substring(col("text"), 1, 8))), "utf-8").as("roundtrip"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |base64(encode(substring(text, 1, 12))) AS b64_prefix,
             |hex(substring(text, 1, 8)) AS hex_prefix,
             |decode(unhex(hex(substring(text, 1, 8)))) AS roundtrip
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Map higher-order functions (transform_values / map_filter /
    // map_concat), serialized as sorted "k=v" strings so the compare is
    // engine-neutral. The fixture maps are single-key JSON ({"k": n}),
    // so the oracle mirrors with scalar json_extract arithmetic — the
    // Spark side still exercises the real MapType code paths.
    Q("fn_map_hof",
      (s, d) => {
        val m = from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType))
        def ser(c: org.apache.spark.sql.Column) = concat_ws(",",
          transform(array_sort(map_entries(c)),
            e => concat(e("key"), lit("="), e("value").cast("string"))))
        Tables.events(s, d)
          .withColumn("m", m)
          .select(col("event_id"),
            ser(expr("transform_values(m, (k, v) -> v * 2)")).as("doubled"),
            ser(expr("map_filter(m, (k, v) -> v % 2 = 0)")).as("evens_only"),
            ser(map_concat(col("m"), map(lit("extra"), lit(1L)))).as("with_extra"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |'k=' || CAST(CAST(json_extract(props, '$.k') AS BIGINT) * 2 AS VARCHAR) AS doubled,
             |CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) % 2 = 0
             |     THEN 'k=' || CAST(CAST(json_extract(props, '$.k') AS BIGINT) AS VARCHAR)
             |     ELSE '' END AS evens_only,
             |'extra=1,k=' || CAST(CAST(json_extract(props, '$.k') AS BIGINT) AS VARCHAR) AS with_extra
             |FROM events ORDER BY event_id""".stripMargin)),

    // parse_url over crawl-shaped URLs (synthesized deterministically
    // from document columns — the fixtures carry no raw URLs). The
    // oracle mirrors each component with an anchored regexp; the
    // synthesized URLs always contain every component, so the two
    // engines' missing-part null conventions never diverge.
    Q("fn_url_suite",
      (s, d) => {
        val url = concat(lit("https://"), col("source"), lit(".example.com/"),
          col("lang"), lit("/doc/"), col("doc_id").cast("string"),
          lit("?ref="), col("source"), lit("&id="), col("doc_id").cast("string"))
        Tables.documents(s, d)
          .withColumn("url", url)
          .select(col("doc_id"), col("url"),
            parse_url(col("url"), lit("HOST")).as("host"),
            parse_url(col("url"), lit("PATH")).as("path"),
            parse_url(col("url"), lit("QUERY")).as("query"),
            parse_url(col("url"), lit("QUERY"), lit("ref")).as("ref_param"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, url,
             |  regexp_extract(url, '^https?://([^/]+)', 1) AS host,
             |  regexp_extract(url, '^https?://[^/]+([^?#]*)', 1) AS path,
             |  regexp_extract(url, '\?([^#]*)', 1) AS query,
             |  regexp_extract(url, '[?&]ref=([^&#]*)', 1) AS ref_param
             |FROM (SELECT doc_id,
             |  'https://' || source || '.example.com/' || lang || '/doc/' ||
             |  CAST(doc_id AS VARCHAR) || '?ref=' || source || '&id=' ||
             |  CAST(doc_id AS VARCHAR) AS url FROM documents) u
             |ORDER BY doc_id""".stripMargin)),

    // Spark 4 VARIANT type: parse_json → variant_get with a typed path
    // — the modern semi-structured surface next to fn_map_json's
    // classic get_json_object. The oracle mirrors with DuckDB's JSON
    // extraction (props is single-key {"k": n} JSON).
    Q("fn_variant",
      (s, d) => Tables.events(s, d)
        .withColumn("v", parse_json(col("props")))
        .select(col("event_id"),
          expr("variant_get(v, '$.k', 'bigint')").as("k_val"),
          (expr("variant_get(v, '$.k', 'bigint')") * 2).as("k_doubled"),
          expr("variant_get(v, '$.missing', 'bigint')").as("k_missing"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
             |  CAST(json_extract(props, '$.k') AS BIGINT) * 2 AS k_doubled,
             |  CAST(json_extract(props, '$.missing') AS BIGINT) AS k_missing
             |FROM events ORDER BY event_id""".stripMargin)),

    // Array predicate HOFs (exists / forall / filter-count): the
    // short-circuiting membership tests a feature-gating pass runs per
    // row over embedding vectors. DuckDB mirrors via list_filter
    // lengths (no short-circuit, same answers). Thresholds compare
    // float→double casts — bit-exact on both engines.
    Q("fn_array_predicates",
      (s, d) => {
        val v = transform(col("embedding"), x => x.cast("double"))
        Tables.embeddings(s, d)
          .select(col("vec_id"),
            exists(v, x => x > 0.45).as("has_hot_dim"),
            forall(v, x => x > -0.5).as("all_above_floor"),
            size(filter(v, x => x < 0.0)).cast("long").as("n_negative"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id,
             |  len(list_filter(v, x -> x > 0.45)) > 0 AS has_hot_dim,
             |  len(list_filter(v, x -> NOT (x > -0.5))) = 0 AS all_above_floor,
             |  CAST(len(list_filter(v, x -> x < 0.0)) AS BIGINT) AS n_negative
             |FROM (SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
             |      FROM embeddings)
             |ORDER BY vec_id""".stripMargin)),

    // Edit distance (both engines implement classic Levenshtein) over
    // all nation-name pairs — the string-similarity primitive of
    // fuzzy entity matching / data cleaning. 25×24/2 pairs here; at
    // scale the pair stream comes from a blocking key (same first
    // letter, same length band, an LSH bucket), never a full cross —
    // the per-pair expression is what this query pins.
    Q("fn_edit_distance",
      (s, d) => {
        val n = Tables.nation(s, d).select(col("n_name"))
        n.as("a").join(n.as("b"), col("a.n_name") < col("b.n_name"))
          .select(col("a.n_name").as("name_a"), col("b.n_name").as("name_b"),
            levenshtein(col("a.n_name"), col("b.n_name")).cast("long").as("edit_dist"),
            round(lit(1.0) -
              levenshtein(col("a.n_name"), col("b.n_name")).cast("double") /
                greatest(length(col("a.n_name")), length(col("b.n_name"))), 4)
              .as("sim"))
          .orderBy("name_a", "name_b")
      },
      Some("""SELECT a.n_name AS name_a, b.n_name AS name_b,
             |  CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS edit_dist,
             |  ROUND(1.0 - CAST(levenshtein(a.n_name, b.n_name) AS DOUBLE)
             |    / greatest(length(a.n_name), length(b.n_name)), 4) AS sim
             |FROM nation a JOIN nation b ON a.n_name < b.n_name
             |ORDER BY name_a, name_b""".stripMargin)),

    // Spark 4 COLLATION surface — case-insensitive equality/grouping
    // via `collate(…, 'UTF8_LCASE')`, the engine-native way to make a
    // whole join/group case-insensitive without rewriting every
    // predicate through lower() (and, unlike lower(), collation-aware
    // comparisons keep Catalyst statistics and pushdown intact). The
    // fixture mangles nation names into 3 case variants (UPPER / lower
    // / initcap), then groups under the LCASE collation: 75 variants
    // collapse back to 25 groups. The oracle mirrors with lower() —
    // for ASCII the two fold identically; the operator's value is the
    // API surface, pinned by the variant/distinct counts per region.
    Q("fn_collate_compare",
      (s, d) => {
        val variants = Tables.nation(s, d)
          .select(col("n_regionkey"),
            explode(array(upper(col("n_name")), lower(col("n_name")),
              initcap(lower(col("n_name"))))).as("v"))
        val ci = variants
          .groupBy(col("n_regionkey"),
            expr("collate(v, 'UTF8_LCASE')").as("name_ci"))
          .agg(count(lit(1)).as("nv"))
          .groupBy("n_regionkey")
          .agg(count(lit(1)).as("n_names_ci"), sum("nv").as("n_variants"))
        val bin = variants.groupBy("n_regionkey")
          .agg(count_distinct(expr("collate(v, 'UTF8_BINARY')"))
            .as("n_variants_binary"))
        ci.join(bin, Seq("n_regionkey"))
          .select(col("n_regionkey"), col("n_names_ci"), col("n_variants"),
            col("n_variants_binary"))
          .orderBy("n_regionkey")
      },
      Some("""WITH variants AS (
             |  SELECT n_regionkey, v FROM nation,
             |    unnest([upper(n_name), lower(n_name),
             |      upper(n_name[1]) || lower(n_name[2:])]) t(v)),
             |ci AS (
             |  SELECT n_regionkey, lower(v) AS name_ci,
             |    CAST(COUNT(*) AS BIGINT) AS n_variants
             |  FROM variants GROUP BY 1, 2)
             |SELECT c.n_regionkey, CAST(COUNT(*) AS BIGINT) AS n_names_ci,
             |  CAST(SUM(c.n_variants) AS BIGINT) AS n_variants,
             |  (SELECT CAST(COUNT(DISTINCT v) AS BIGINT) FROM variants x
             |   WHERE x.n_regionkey = c.n_regionkey) AS n_variants_binary
             |FROM ci c GROUP BY c.n_regionkey
             |ORDER BY c.n_regionkey""".stripMargin)),

    // aes_encrypt / aes_decrypt — the column-level-encryption surface
    // (PII columns at rest, key-scoped sharing). ECB+PKCS is chosen
    // BECAUSE it is deterministic: the roundtrip and the ciphertext
    // length ((n div 16 + 1)·16, PKCS always pads) are oracle-derivable
    // without DuckDB having AES at all — GCM's random IV would make
    // even the length check flaky. The scaladoc caveat a real
    // deployment needs: ECB leaks equal-block structure; use GCM in
    // production where ciphertexts need semantic security, at the cost
    // of bench-style determinism.
    Q("fn_aes_roundtrip",
      (s, d) => Tables.nation(s, d)
        .select(col("n_name"),
          expr("aes_encrypt(n_name, '0123456789abcdef', 'ECB', 'PKCS')")
            .as("ct"))
        .select(col("n_name"),
          length(col("ct")).cast("long").as("cipher_len"),
          expr("cast(aes_decrypt(ct, '0123456789abcdef', 'ECB', 'PKCS') " +
            "as string)").as("decrypted"))
        .withColumn("roundtrip_ok", col("decrypted") === col("n_name"))
        .orderBy("n_name"),
      Some("""SELECT n_name,
             |  (length(n_name) // 16 + 1) * 16 AS cipher_len,
             |  n_name AS decrypted, TRUE AS roundtrip_ok
             |FROM nation ORDER BY n_name""".stripMargin)),

    // xpath_* — the XML-extraction scalar family (config payloads,
    // legacy feeds, SOAP-era partners): a per-nation XML document is
    // BUILT from columns, then fields are recovered with xpath_int /
    // xpath (node-set) — so the oracle needs no XML engine at all, it
    // mirrors the recovered values straight from the base columns
    // (scan_xml_roundtrip's file-level sibling at expression level).
    // All string ops, codegen-resident, zero shuffle before the sort.
    Q("fn_xpath_extract",
      (s, d) => Tables.nation(s, d)
        .withColumn("xml", concat(lit("<r><k>"), col("n_nationkey"),
          lit("</k>"), expr("""concat_ws('', transform(split(n_name, ' '),
            x -> concat('<w>', x, '</w>')))"""), lit("</r>")))
        .select(
          expr("xpath_int(xml, '/r/k/text()')").cast("long").as("key_back"),
          expr("size(xpath(xml, '/r/w/text()'))").cast("long")
            .as("n_words"),
          expr("xpath_string(xml, '/r/w[1]/text()')").as("first_word"))
        .orderBy("key_back"),
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS key_back,
             |  CAST(len(string_split(n_name, ' ')) AS BIGINT) AS n_words,
             |  string_split(n_name, ' ')[1] AS first_word
             |FROM nation ORDER BY key_back""".stripMargin)),

    // Phone normalization to E.164 — the PII-normalization sibling of
    // fn_luhn_check: messy display formats ("(415) 283-0094",
    // "415.283.0094", "+1 415 283 0094") must collapse to ONE
    // canonical +1XXXXXXXXXX key before dedup/linkage can match them.
    // Each user gets a deterministic 10-digit number rendered in a
    // user-dependent messy format; normalization strips to digits,
    // drops the redundant country prefix, and re-keys — all portable
    // string/regexp ops, and the round-trip equality ships as a
    // checked column.
    Q("fn_phone_normalize",
      (s, d) => {
        val area = (col("user_id") % 800) + 200
        val mid = (col("user_id") * 7) % 1000
        val last = (col("user_id") * 13) % 10000
        Tables.events(s, d)
          .select(col("user_id")).distinct()
          .filter(col("user_id") % 10 === 0)
          .withColumn("digits", concat(
            lpad(area.cast("string"), 3, "0"),
            lpad(mid.cast("string"), 3, "0"),
            lpad(last.cast("string"), 4, "0")))
          .withColumn("messy",
            when(col("user_id") % 3 === 0, concat(lit("("),
              substring(col("digits"), 1, 3), lit(") "),
              substring(col("digits"), 4, 3), lit("-"),
              substring(col("digits"), 7, 4)))
              .when(col("user_id") % 3 === 1, concat(
                substring(col("digits"), 1, 3), lit("."),
                substring(col("digits"), 4, 3), lit("."),
                substring(col("digits"), 7, 4)))
              .otherwise(concat(lit("+1 "),
                substring(col("digits"), 1, 3), lit(" "),
                substring(col("digits"), 4, 3), lit(" "),
                substring(col("digits"), 7, 4))))
          .withColumn("stripped",
            regexp_replace(col("messy"), "[^0-9]", ""))
          .withColumn("e164", concat(lit("+1"),
            when(length(col("stripped")) === 11,
              substring(col("stripped"), 2, 10))
              .otherwise(col("stripped"))))
          .select(col("user_id"), col("messy"), col("e164"),
            (col("e164") === concat(lit("+1"), col("digits")))
              .as("normalized_ok"))
          .orderBy("user_id")
      },
      Some("""WITH u AS (
             |  SELECT DISTINCT user_id FROM events
             |  WHERE user_id % 10 = 0),
             |p AS (
             |  SELECT user_id,
             |    lpad(CAST(user_id % 800 + 200 AS VARCHAR), 3, '0')
             |      || lpad(CAST((user_id * 7) % 1000 AS VARCHAR), 3, '0')
             |      || lpad(CAST((user_id * 13) % 10000 AS VARCHAR), 4, '0')
             |      AS digits
             |  FROM u),
             |m AS (
             |  SELECT user_id, digits,
             |    CASE WHEN user_id % 3 = 0
             |      THEN '(' || substr(digits, 1, 3) || ') '
             |        || substr(digits, 4, 3) || '-' || substr(digits, 7, 4)
             |    WHEN user_id % 3 = 1
             |      THEN substr(digits, 1, 3) || '.' || substr(digits, 4, 3)
             |        || '.' || substr(digits, 7, 4)
             |    ELSE '+1 ' || substr(digits, 1, 3) || ' '
             |      || substr(digits, 4, 3) || ' ' || substr(digits, 7, 4)
             |    END AS messy
             |  FROM p),
             |n AS (
             |  SELECT user_id, digits, messy,
             |    regexp_replace(messy, '[^0-9]', '', 'g') AS stripped
             |  FROM m)
             |SELECT user_id, messy,
             |  '+1' || CASE WHEN length(stripped) = 11
             |    THEN substr(stripped, 2, 10) ELSE stripped END AS e164,
             |  '+1' || CASE WHEN length(stripped) = 11
             |    THEN substr(stripped, 2, 10) ELSE stripped END
             |    = '+1' || digits AS normalized_ok
             |FROM n ORDER BY user_id""".stripMargin)),

    // IPv4 + CIDR arithmetic — the access-log enrichment primitives
    // (parse dotted-quad → u32, subnet containment, network/broadcast
    // bounds) nothing builtin covers portably: all div/mod on the
    // 32-bit integer form, so a /14 test is one integer
    // div-by-2^(32-14) equality, mirrored digit-for-digit in both
    // engines. Addresses derive deterministically from user ids (two
    // octet folds), membership tested against two disjoint blocks.
    Q("fn_ipv4_cidr",
      (s, d) => {
        val ip = lit(10L) * 16777216L +
          (col("user_id") % 64) * 65536L +
          ((col("user_id") * 7) % 256) * 256L +
          ((col("user_id") * 13) % 256)
        // 10.8.0.0/14 spans 10.8.0.0–10.11.255.255
        val net14: Long = (10L * 16777216L + 8L * 65536L) / 262144L
        Tables.events(s, d)
          .select(col("user_id")).distinct()
          .withColumn("ip_u32", ip)
          .withColumn("ip_str", concat_ws(".",
            expr("ip_u32 div 16777216"),
            expr("(ip_u32 div 65536) % 256"),
            expr("(ip_u32 div 256) % 256"),
            expr("ip_u32 % 256")))
          .withColumn("in_10_8_0_0_14",
            expr("ip_u32 div 262144") === lit(net14))
          .withColumn("subnet_24", expr("ip_u32 div 256") * 256L)
          .withColumn("broadcast_24", col("subnet_24") + 255L)
          .select(col("user_id"), col("ip_str"), col("ip_u32"),
            col("in_10_8_0_0_14"), col("subnet_24"), col("broadcast_24"))
          .orderBy("user_id")
      },
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
             |ip AS (
             |  SELECT user_id,
             |    10 * 16777216 + (user_id % 64) * 65536
             |      + ((user_id * 7) % 256) * 256
             |      + ((user_id * 13) % 256) AS ip_u32
             |  FROM u)
             |SELECT user_id,
             |  CAST(ip_u32 // 16777216 AS VARCHAR) || '.' ||
             |  CAST((ip_u32 // 65536) % 256 AS VARCHAR) || '.' ||
             |  CAST((ip_u32 // 256) % 256 AS VARCHAR) || '.' ||
             |  CAST(ip_u32 % 256 AS VARCHAR) AS ip_str,
             |  CAST(ip_u32 AS BIGINT) AS ip_u32,
             |  ip_u32 // 262144 = (10 * 16777216 + 8 * 65536) // 262144
             |    AS in_10_8_0_0_14,
             |  CAST((ip_u32 // 256) * 256 AS BIGINT) AS subnet_24,
             |  CAST((ip_u32 // 256) * 256 + 255 AS BIGINT) AS broadcast_24
             |FROM ip ORDER BY user_id""".stripMargin)),

    // Deterministic ULID — the sortable distributed identifier
    // (48-bit ms timestamp + 80 content-hash bits, 26 Crockford
    // base-32 chars): ids that SORT in event order collate writes into
    // time-contiguous ranges, the key property for LSM/object-store
    // layouts. The "randomness" half is md5-derived (content-hashed,
    // so the id is reproducible — the right variant for idempotent
    // pipelines), and every base-32 digit comes from the same portable
    // div/mod indexing as fn_geohash_encode: both engines emit the
    // identical string. Lexicographic(ulid) ≡ (ts, md5) order by
    // construction — spec-checked.
    Q("fn_ulid_sortable",
      (s, d) => {
        val alpha = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"
        def b32(src: String, nchars: Int) = expr(
          s"""concat_ws('', transform(sequence(0, ${nchars - 1}), k ->
             |  substring('$alpha',
             |    CAST(($src div CAST(pow(2, ${5 * (nchars - 1)} - 5 * k)
             |      AS BIGINT)) % 32 AS INT) + 1, 1)))""".stripMargin)
        Tables.events(s, d)
          .filter(col("event_id") % 50 === 0)
          .withColumn("ms", expr("unix_millis(ts)"))
          .withColumn("r1",
            conv(substring(md5(concat(lit("ulid:"),
              col("event_id").cast("string"))), 1, 10), 16, 10)
              .cast("long"))
          .withColumn("r2",
            conv(substring(md5(concat(lit("ulid:"),
              col("event_id").cast("string"))), 11, 10), 16, 10)
              .cast("long"))
          .withColumn("ulid", concat(b32("ms", 10), b32("r1", 8),
            b32("r2", 8)))
          .select(col("event_id"), col("ms"), col("ulid"))
          .orderBy("event_id")
      },
      Some(s"""WITH b AS (
              |  SELECT event_id, epoch_ms(ts) AS ms,
              |    ${SQL_HEX10("substr(md5('ulid:' || CAST(event_id AS VARCHAR)), 1, 10)")} AS r1,
              |    ${SQL_HEX10("substr(md5('ulid:' || CAST(event_id AS VARCHAR)), 11, 10)")} AS r2
              |  FROM events WHERE event_id % 50 = 0)
              |SELECT event_id, ms,
              |  ${SQL_B32("ms", 10)} || ${SQL_B32("r1", 8)}
              |    || ${SQL_B32("r2", 8)} AS ulid
              |FROM b ORDER BY event_id""".stripMargin)),

    // Luhn checksum — the mod-10 validity test behind card/IMEI/
    // account identifiers, i.e. the VERIFICATION half of PII detection
    // (text_pii_redact's regex finds candidates; Luhn separates real
    // numbers from noise, cutting false positives). A 12-digit
    // candidate is derived per customer, its check digit computed by
    // the double-every-second-digit fold — expressed as a digit-index
    // transform+sum over the string, portable to the digit in both
    // engines — and a deliberately corrupted variant shows the test
    // rejecting. Pure scalar arithmetic, zero shuffle.
    Q("fn_luhn_check",
      (s, d) => {
        // 11 payload digits from the key; digits indexed 1..11 left
        // to right, doubling positions counted from the RIGHTMOST
        // payload digit (position 11) inclusive of the check slot
        val payload = lpad((col("c_custkey") % 100000000000L).cast("string"),
          11, "0")
        Tables.customer(s, d)
          .filter(col("c_custkey") % 25 === 0)
          .withColumn("payload", payload)
          .withColumn("lsum", expr(
            """aggregate(sequence(1, 11), 0L, (acc, i) ->
              |  acc + CAST(CASE WHEN (11 - i) % 2 = 0
              |    THEN CASE WHEN 2 * CAST(substring(payload, i, 1) AS INT) > 9
              |         THEN 2 * CAST(substring(payload, i, 1) AS INT) - 9
              |         ELSE 2 * CAST(substring(payload, i, 1) AS INT) END
              |    ELSE CAST(substring(payload, i, 1) AS INT) END AS BIGINT))"""
              .stripMargin))
          .withColumn("check_digit", (lit(10L) - col("lsum") % 10L) % 10L)
          .withColumn("card", concat(col("payload"),
            col("check_digit").cast("string")))
          .withColumn("corrupted", concat(col("payload"),
            ((col("check_digit") + 1) % 10).cast("string")))
          // validation is the REAL full-card checksum (positions from
          // the right, check digit not doubled), not an echo of the
          // construction — the corrupted twin proves rejection
          .withColumn("valid", expr(
            """aggregate(sequence(1, 12), 0L, (acc, i) ->
              |  acc + CAST(CASE WHEN (12 - i) % 2 = 1
              |    THEN CASE WHEN 2 * CAST(substring(card, i, 1) AS INT) > 9
              |         THEN 2 * CAST(substring(card, i, 1) AS INT) - 9
              |         ELSE 2 * CAST(substring(card, i, 1) AS INT) END
              |    ELSE CAST(substring(card, i, 1) AS INT) END AS BIGINT))"""
              .stripMargin) % 10 === 0)
          .withColumn("corrupted_valid", expr(
            """aggregate(sequence(1, 12), 0L, (acc, i) ->
              |  acc + CAST(CASE WHEN (12 - i) % 2 = 1
              |    THEN CASE WHEN 2 * CAST(substring(corrupted, i, 1) AS INT) > 9
              |         THEN 2 * CAST(substring(corrupted, i, 1) AS INT) - 9
              |         ELSE 2 * CAST(substring(corrupted, i, 1) AS INT) END
              |    ELSE CAST(substring(corrupted, i, 1) AS INT) END AS BIGINT))"""
              .stripMargin) % 10 === 0)
          .select(col("c_custkey"), col("card"), col("valid"),
            col("corrupted"), col("corrupted_valid"))
          .orderBy("c_custkey")
      },
      Some("""WITH base AS (
             |  SELECT c_custkey,
             |    lpad(CAST(c_custkey % 100000000000 AS VARCHAR), 11, '0')
             |      AS payload
             |  FROM customer WHERE c_custkey % 25 = 0),
             |s AS (
             |  SELECT c_custkey, payload,
             |    CAST(list_sum(list_transform(generate_series(1, 11), i ->
             |      CASE WHEN (11 - i) % 2 = 0
             |        THEN CASE WHEN 2 * CAST(substr(payload, i, 1) AS INT) > 9
             |             THEN 2 * CAST(substr(payload, i, 1) AS INT) - 9
             |             ELSE 2 * CAST(substr(payload, i, 1) AS INT) END
             |        ELSE CAST(substr(payload, i, 1) AS INT) END))
             |      AS BIGINT) AS lsum
             |  FROM base),
             |cards AS (
             |  SELECT c_custkey,
             |    payload || CAST((10 - lsum % 10) % 10 AS VARCHAR) AS card,
             |    payload || CAST(((10 - lsum % 10) % 10 + 1) % 10 AS VARCHAR)
             |      AS corrupted
             |  FROM s)
             |SELECT c_custkey, card,
             |  CAST(list_sum(list_transform(generate_series(1, 12), i ->
             |    CASE WHEN (12 - i) % 2 = 1
             |      THEN CASE WHEN 2 * CAST(substr(card, i, 1) AS INT) > 9
             |           THEN 2 * CAST(substr(card, i, 1) AS INT) - 9
             |           ELSE 2 * CAST(substr(card, i, 1) AS INT) END
             |      ELSE CAST(substr(card, i, 1) AS INT) END)) AS BIGINT)
             |    % 10 = 0 AS valid,
             |  corrupted,
             |  CAST(list_sum(list_transform(generate_series(1, 12), i ->
             |    CASE WHEN (12 - i) % 2 = 1
             |      THEN CASE WHEN 2 * CAST(substr(corrupted, i, 1) AS INT) > 9
             |           THEN 2 * CAST(substr(corrupted, i, 1) AS INT) - 9
             |           ELSE 2 * CAST(substr(corrupted, i, 1) AS INT) END
             |      ELSE CAST(substr(corrupted, i, 1) AS INT) END)) AS BIGINT)
             |    % 10 = 0 AS corrupted_valid
             |FROM cards ORDER BY c_custkey""".stripMargin)),

    // Geohash encoding — the prefix-shardable spatial key (neighbor
    // lookups = shared prefixes, the standard geo-bucketing device
    // join_spatial_grid's integer grid approximates). Implemented from
    // the bit definition with PORTABLE arithmetic only: quantize
    // lon/lat to 20-bit integers (one identical double multiply +
    // floor each), interleave via a 20-term fold of (bit·4ⁱ) sums —
    // no bitwise builtins, so both engines compute the identical
    // 40-bit code — then 8 base-32 chars by repeated div/mod indexing
    // into the standard alphabet. Per-row scalar math, zero shuffle
    // before the final sort.
    Q("fn_geohash_encode",
      (s, d) => {
        val ghAlpha = "0123456789bcdefghjkmnpqrstuvwxyz"
        val c = Tables.customer(s, d)
          .filter(col("c_custkey") % 10 === 0)
          .withColumn("lat",
            (col("c_custkey") % 17000).cast("double") / 100.0 - 85.0)
          .withColumn("lon",
            (col("c_custkey") * 7 % 36000).cast("double") / 100.0 - 180.0)
          .withColumn("x", least(floor((col("lon") + 180.0) / 360.0 *
            1048576.0).cast("long"), lit(1048575L)))
          .withColumn("y", least(floor((col("lat") + 90.0) / 180.0 *
            1048576.0).cast("long"), lit(1048575L)))
          .withColumn("inter", expr(
            """aggregate(sequence(0, 19), 0L, (acc, i) ->
              |  acc + ((x div CAST(pow(2, i) AS BIGINT)) % 2)
              |          * CAST(pow(2, 2 * i + 1) AS BIGINT)
              |      + ((y div CAST(pow(2, i) AS BIGINT)) % 2)
              |          * CAST(pow(2, 2 * i) AS BIGINT))""".stripMargin))
          .withColumn("geohash8", expr(
            s"""concat_ws('', transform(sequence(0, 7), k ->
               |  substring('$ghAlpha',
               |    CAST((inter div CAST(pow(2, 35 - 5 * k) AS BIGINT)) % 32
               |      AS INT) + 1, 1)))""".stripMargin))
        c.select(col("c_custkey"), col("lat"), col("lon"), col("inter"),
          col("geohash8"))
          .orderBy("c_custkey")
      },
      Some("""WITH c AS (
             |  SELECT c_custkey,
             |    CAST(c_custkey % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat,
             |    CAST(c_custkey * 7 % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon
             |  FROM customer WHERE c_custkey % 10 = 0),
             |q AS (
             |  SELECT c_custkey, lat, lon,
             |    LEAST(CAST(floor((lon + 180.0) / 360.0 * 1048576.0)
             |      AS BIGINT), 1048575) AS x,
             |    LEAST(CAST(floor((lat + 90.0) / 180.0 * 1048576.0)
             |      AS BIGINT), 1048575) AS y
             |  FROM c),
             |iv AS (
             |  SELECT c_custkey, lat, lon,
             |    CAST(list_sum(list_transform(generate_series(0, 19), i ->
             |      ((x // CAST(pow(2, i) AS BIGINT)) % 2)
             |        * CAST(pow(2, 2 * i + 1) AS BIGINT)
             |      + ((y // CAST(pow(2, i) AS BIGINT)) % 2)
             |        * CAST(pow(2, 2 * i) AS BIGINT))) AS BIGINT) AS inter
             |  FROM q)
             |SELECT c_custkey, lat, lon, inter,
             |  list_aggregate(list_transform(generate_series(0, 7), k ->
             |    substr('0123456789bcdefghjkmnpqrstuvwxyz',
             |      CAST((inter // CAST(pow(2, 35 - 5 * k) AS BIGINT)) % 32
             |        AS INT) + 1, 1)), 'string_agg', '') AS geohash8
             |FROM iv ORDER BY c_custkey""".stripMargin)),

    // Semantic-version ordering — the dependency-catalog sort every
    // artifact registry needs and naive string ordering gets wrong
    // ("0.10.2" < "0.9.1" lexicographically): versions synthesized
    // deterministically from the nation table with two-digit
    // components present, split into numeric (major, minor, patch),
    // ranked both ways, and the rank shift exposed. Version catalogs
    // are model-sized at any corpus scale (the windows here run over
    // 25 rows); at 100 TB the semver KEY (the numeric triple) is what
    // a join or sort would use, computed per row with zero shuffles.
    Q("fn_semver_compare",
      (s, d) => {
        val v = Tables.nation(s, d)
          .select(concat(
            (col("n_nationkey") % 3).cast("string"), lit("."),
            ((col("n_nationkey") * 7) % 20).cast("string"), lit("."),
            ((col("n_nationkey") * 13) % 15).cast("string")).as("version"))
          .withColumn("parts", split(col("version"), "\\."))
          .select(col("version"),
            element_at(col("parts"), 1).cast("long").as("major"),
            element_at(col("parts"), 2).cast("long").as("minor"),
            element_at(col("parts"), 3).cast("long").as("patch"))
        import org.apache.spark.sql.expressions.Window
        val wSem = Window.orderBy(col("major"), col("minor"), col("patch"),
          col("version"))
        val wLex = Window.orderBy(col("version"))
        v.withColumn("semver_rank", row_number().over(wSem).cast("long"))
          .withColumn("lex_rank", row_number().over(wLex).cast("long"))
          .withColumn("rank_shift", col("lex_rank") - col("semver_rank"))
          .orderBy("semver_rank")
      },
      Some("""WITH v AS (
             |  SELECT CAST(n_nationkey % 3 AS VARCHAR) || '.'
             |    || CAST((n_nationkey * 7) % 20 AS VARCHAR) || '.'
             |    || CAST((n_nationkey * 13) % 15 AS VARCHAR) AS version
             |  FROM nation),
             |p AS (
             |  SELECT version,
             |    CAST(string_split(version, '.')[1] AS BIGINT) AS major,
             |    CAST(string_split(version, '.')[2] AS BIGINT) AS minor,
             |    CAST(string_split(version, '.')[3] AS BIGINT) AS patch
             |  FROM v)
             |SELECT version, major, minor, patch,
             |  CAST(ROW_NUMBER() OVER (ORDER BY major, minor, patch,
             |    version) AS BIGINT) AS semver_rank,
             |  CAST(ROW_NUMBER() OVER (ORDER BY version) AS BIGINT)
             |    AS lex_rank,
             |  CAST(ROW_NUMBER() OVER (ORDER BY version) AS BIGINT)
             |    - CAST(ROW_NUMBER() OVER (ORDER BY major, minor, patch,
             |      version) AS BIGINT) AS rank_shift
             |FROM p ORDER BY semver_rank""".stripMargin)),

    // Unsecured-JWT claim extraction — the auth-log analytics shape:
    // a JWT (header.payload.signature, base64url segments) is built
    // per customer from exactly-controlled JSON text, then the PARSE
    // side — split on '.', base64-decode the payload, extract typed
    // claims — runs in the same engine and feeds a per-segment
    // aggregate. Construct-and-parse in one query means the oracle
    // match proves the decode path, not cross-engine base64 equality;
    // all claim values are exact integers/strings. Pure per-row
    // expression work + one hash aggregate at any scale.
    Q("fn_jwt_claims",
      (s, d) => {
        val payload = concat(lit("""{"sub":"""), col("c_custkey"),
          lit(""","seg":""""), col("c_mktsegment"),
          lit("""","iat":"""), (lit(1700000000L) + col("c_custkey")),
          lit("}"))
        val jwt = concat(
          base64(to_binary(lit("""{"alg":"none","typ":"JWT"}"""),
            lit("utf-8"))),
          lit("."), base64(to_binary(payload, lit("utf-8"))), lit("."))
        val parsed = Tables.customer(s, d)
          .select(jwt.as("token"))
          .withColumn("payload_json",
            decode(unbase64(element_at(split(col("token"), "\\."), 2)),
              "utf-8"))
          .select(
            get_json_object(col("payload_json"), "$.sub").cast("long")
              .as("sub"),
            get_json_object(col("payload_json"), "$.seg").as("seg"),
            get_json_object(col("payload_json"), "$.iat").cast("long")
              .as("iat"))
        parsed.groupBy("seg")
          .agg(count(lit(1)).as("n_tokens"), min("sub").as("min_sub"),
            max("iat").as("max_iat"))
          .orderBy("seg")
      },
      Some("""WITH j AS (
             |  SELECT base64(encode('{"alg":"none","typ":"JWT"}')) || '.'
             |    || base64(encode('{"sub":' || c_custkey
             |      || ',"seg":"' || c_mktsegment
             |      || '","iat":' || (1700000000 + c_custkey) || '}'))
             |    || '.' AS token
             |  FROM customer),
             |p AS (
             |  SELECT decode(from_base64(string_split(token, '.')[2]))
             |    AS payload_json
             |  FROM j),
             |c AS (
             |  SELECT
             |    CAST(json_extract_string(payload_json, '$.sub') AS BIGINT)
             |      AS sub,
             |    json_extract_string(payload_json, '$.seg') AS seg,
             |    CAST(json_extract_string(payload_json, '$.iat') AS BIGINT)
             |      AS iat
             |  FROM p)
             |SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |  MIN(sub) AS min_sub, MAX(iat) AS max_iat
             |FROM c GROUP BY seg ORDER BY seg""".stripMargin)),

    // Dedicated regexp surface beyond filter_like_regexp's predicates:
    // group extraction, extract-ALL (match count via list length —
    // DuckDB has no regexp_count, so both engines pin the same
    // len(extract_all) spelling), backreference replacement (Spark's
    // $1 ↔ DuckDB's \1 — same substitution semantics, different
    // sigil), and a case-insensitive match flag. All per-row codegen
    // expressions on a 50-event slice; row-linear at any scale.
    Q("fn_regexp_suite",
      (s, d) => Tables.events(s, d)
        .filter(col("event_id") < 50)
        .select(col("event_id"),
          regexp_extract(col("props"), "\\\"k\\\":\\s*(\\d+)", 1)
            .cast("long").as("k_value"),
          size(expr("regexp_extract_all(event_type, '[aeiou]', 0)"))
            .cast("long").as("n_vowels"),
          regexp_replace(col("event_type"), "^(.)(.*)$", "$2$1")
            .as("rotated"),
          col("event_type").rlike("(?i)^(CLICK|VIEW)$").as("is_impression"),
          regexp_extract(col("props"), "(\\d)(\\d*)", 2).as("k_tail"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)
             |    AS k_value,
             |  CAST(len(regexp_extract_all(event_type, '[aeiou]', 0))
             |    AS BIGINT) AS n_vowels,
             |  regexp_replace(event_type, '^(.)(.*)$', '\2\1') AS rotated,
             |  regexp_matches(event_type, '(?i)^(CLICK|VIEW)$')
             |    AS is_impression,
             |  regexp_extract(props, '(\d)(\d*)', 2) AS k_tail
             |FROM events WHERE event_id < 50
             |ORDER BY event_id""".stripMargin))
  )
}
