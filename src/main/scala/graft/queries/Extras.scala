package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Artifacts, Tables}
import graft.operators.{AsOf, Split, TableDiff}
import graft.pipeline.Silver

/** Extended analytics operators beyond the reference's own surface (SURVEY
  * §7.1 step 6): rollup, ordered string aggregation, exact percentiles,
  * semi/anti joins as filters, conditional aggregation, range (non-equi)
  * join, as-of join, pivot, approximate distinct. All but the approx op are
  * DuckDB-oracled.
  */
object Extras {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  // --- bronze-shaped fixtures ------------------------------------------------
  // Shared between the per-table silver entries (q32..q40, each oracled in
  // isolation) and the composed qp01_pipeline entry, which wires ALL of them
  // through Pipeline.buildSilver with ONE municipios/relations dim pair —
  // the reference's actual workload shape (main.py:159-182 feeds the same
  // dims to all three INE tables). Pure refactor: each per-table entry's
  // output is unchanged.

  /** q32's OD bronze: lineitem → all-string MITMA OD rows (null distancia
    * on the qty≥25 ∧ returnflag=R slice exercises the critical-field drop).
    */
  private def odBronze(s: SparkSession, d: String): DataFrame =
    T(s, d, "lineitem").select(
      date_format(col("l_shipdate"), "yyyyMMdd").as("fecha"),
      (col("l_linenumber") % 24).cast("string").as("periodo"),
      col("l_orderkey").cast("string").as("origen"),
      col("l_partkey").cast("string").as("destino"),
      when(col("l_quantity") < 25, "0.5-2").when(col("l_returnflag") === "R", lit(null))
        .otherwise("2-10").as("distancia"),
      lit("casa").as("actividad_origen"),
      col("l_linestatus").as("actividad_destino"),
      col("l_suppkey").cast("string").as("residencia"),
      lit("10-15").as("renta"), lit("NA").as("edad"), lit("NA").as("sexo"),
      col("l_quantity").cast("string").as("viajes"),
      col("l_extendedprice").cast("string").as("viajes_km"),
      when(col("l_returnflag") === "R", "si").when(col("l_returnflag") === "A", "NO")
        .otherwise("xx").as("estudio_destino_posible"),
      when(col("l_linenumber") % 2 === 0, "Si").otherwise("no").as("estudio_origen_posible"))

  /** q35's zone bronze: integer-coordinate WKT rectangles from nation. */
  private def zonesBronze(s: SparkSession, d: String): DataFrame = {
    val x = (col("n_nationkey") * 7 % 120) - 60
    val y = (col("n_nationkey") * 3 % 160) - 80
    T(s, d, "nation").select(
      col("n_name").as("ID"),
      concat(lit("Zona "), col("n_name")).as("Nombre"),
      lit("100").as("Poblacion"),
      concat(lit("POLYGON(("),
        x, lit(" "), y, lit(", "),
        x + 2, lit(" "), y, lit(", "),
        x + 2, lit(" "), y + 2, lit(", "),
        x, lit(" "), y + 2, lit(", "),
        x, lit(" "), y, lit("))")).as("geometry"))
  }

  /** q38's overnight bronze branch (null residencia on linenumber=7). */
  private def overnightBranch(s: SparkSession, d: String): DataFrame =
    T(s, d, "lineitem").filter(col("l_orderkey") % 12 === 0).select(
      date_format(col("l_shipdate"), "yyyyMMdd").as("fecha"),
      when(col("l_linenumber") === 7, lit(null).cast("string"))
        .otherwise(col("l_suppkey").cast("string")).as("zona_residencia"),
      col("l_partkey").cast("string").as("zona_pernoctacion"),
      col("l_quantity").cast("string").as("personas"))

  /** q39's people-per-day bronze branch. */
  private def peopleDayBranch(s: SparkSession, d: String): DataFrame =
    T(s, d, "lineitem").filter(col("l_orderkey") % 12 === 0).select(
      date_format(col("l_shipdate"), "yyyyMMdd").as("fecha"),
      col("l_suppkey").cast("string").as("zona_pernoctacion"),
      lit("25-45").as("edad"),
      when(col("l_linenumber") % 2 === 0, "M").otherwise("F").as("sexo"),
      when(col("l_quantity") > 40, "2+").otherwise(col("l_linenumber").cast("string")).as("numero_viajes"),
      col("l_extendedprice").cast("string").as("personas"))

  /** q40's raw holidays (nationwide flag + 1-based name list). */
  private def holidaysRawFixture(s: SparkSession, d: String): DataFrame =
    T(s, d, "nation").select(
      concat(lit("2024-01-"), lpad((col("n_nationkey") % 28 + 1).cast("string"), 2, "0")).as("startDate"),
      array(
        struct(lit("ES").as("language"), concat(lit("Fiesta "), col("n_name")).as("text")),
        struct(lit("EN").as("language"), concat(lit("Holiday "), col("n_name")).as("text"))).as("name"),
      (col("n_nationkey") % 3 =!= 0).as("nationwide"))

  /** q33's empresas (empty Data on %7, non-CNAE tipo on %5). */
  private def empresasFixture(s: SparkSession, d: String): DataFrame = {
    val n = T(s, d, "nation")
    n.select(
      concat(lit("COD"), col("n_nationkey")).as("COD"),
      concat(col("n_name"),
        when(col("n_nationkey") % 5 === 0, lit(". Total. Empresas. Industria."))
          .otherwise(lit(". Total. Empresas. Total CNAE."))).as("Nombre"),
      when(col("n_nationkey") % 7 === 0, array().cast("array<struct<Fecha:long,Valor:double>>"))
        .otherwise(array(
          struct((col("n_nationkey").cast("long") * 86400000L).as("Fecha"),
            col("n_regionkey").cast("double").as("Valor")),
          struct((col("n_nationkey").cast("long") * 86400000L + 86400000L).as("Fecha"),
            (col("n_regionkey") + 10).cast("double").as("Valor")))).as("Data"))
  }

  /** q37's poblacion (one Data element per nation). */
  private def poblacionFixture(s: SparkSession, d: String): DataFrame =
    T(s, d, "nation").select(
      concat(lit("P"), col("n_nationkey")).as("COD"),
      concat(col("n_name"), lit(". Total. Población.")).as("Nombre"),
      array(struct((col("n_nationkey").cast("long") * 86400000L).as("Fecha"),
        (col("n_nationkey") * 1000).cast("double").as("Valor"))).as("Data"))

  /** q36's renta (distrito/sección suffixes on %4∈{0,1}, null Valor on %5). */
  private def rentaFixture(s: SparkSession, d: String): DataFrame =
    T(s, d, "nation").select(
      concat(lit("R"), col("n_nationkey")).as("COD"),
      concat(col("n_name"),
        when(col("n_nationkey") % 4 === 0, lit(" distrito 01. Total. Renta neta media por persona."))
          .when(col("n_nationkey") % 4 === 1, lit(" sección 0101. Total. Renta neta media por persona."))
          .otherwise(lit(". Total. Renta neta media por persona."))).as("Nombre"),
      array(struct((col("n_nationkey").cast("long") * 86400000L).as("Fecha"),
        when(col("n_nationkey") % 5 === 0, lit(null).cast("double"))
          .otherwise((col("n_regionkey") * 1000 + 15000).cast("double")).as("Valor"))).as("Data"))

  /** q36's municipio dim — unfiltered, the composed pipeline's shared dim. */
  private def municipiosShared(s: SparkSession, d: String): DataFrame =
    T(s, d, "nation").select(col("n_nationkey").cast("string").as("Codigo"),
      upper(col("n_name")).as("Nombre"))

  /** q36's relations dim — distrito_mitma set for every municipio. */
  private def relationsShared(s: SparkSession, d: String): DataFrame =
    T(s, d, "nation").select(
      lit("S").as("seccion_ine"), lit("D").as("distrito_ine"),
      col("n_nationkey").cast("string").as("municipio_ine"),
      concat(lit("DM"), col("n_nationkey")).as("distrito_mitma"),
      lit(null).cast("string").as("municipio_mitma"),
      lit(null).cast("string").as("gau_mitma"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ROLLUP grouping-set hierarchy (subtotals + grand total).
    "q21_rollup" -> ((s, d) => {
      T(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
    }),

    // Ordered string aggregation (deterministic: sort before concat).
    "q22_string_agg" -> ((s, d) => {
      T(s, d, "supplier")
        .groupBy(col("s_nationkey"))
        .agg(concat_ws(",", array_sort(collect_list(col("s_name")))).as("names"),
          count(lit(1)).as("n_supp"))
    }),

    // Exact percentiles (linear interpolation — same definition as DuckDB's
    // quantile_cont).
    "q23_percentile" -> ((s, d) => {
      T(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 6).as("price_p99"))
    }),

    // Semi + anti joins as filters: customers with a finished order and no
    // pending order.
    "q24_exists" -> ((s, d) => {
      val c = T(s, d, "customer")
      val o = T(s, d, "orders")
      c.join(o.filter(col("o_orderstatus") === "F").select("o_custkey"),
          c("c_custkey") === col("o_custkey"), "left_semi")
        .join(o.filter(col("o_orderstatus") === "P").select(col("o_custkey").as("p_key")),
          col("c_custkey") === col("p_key"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),

    // Conditional aggregation (FILTER/CASE shapes).
    "q25_conditional_agg" -> ((s, d) => {
      T(s, d, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          count(when(col("c_acctbal") > 0, 1)).as("n_positive"),
          round(sum(when(col("c_acctbal") > 0, col("c_acctbal")).otherwise(0.0)), 2).as("sum_positive"),
          round(avg(when(col("c_nationkey") < 12, col("c_acctbal"))), 6).as("avg_low_nation"))
    }),

    // Range (non-equi) join against a broadcast bucket dimension.
    "q26_range_join" -> ((s, d) => {
      val buckets = s.range(5).select(
        (col("id") * 10).cast("double").as("lo"),
        ((col("id") + 1) * 10).cast("double").as("hi"),
        concat(lit("q"), col("id").cast("string")).as("bucket"))
      // revenue sums EXACT decimals, not doubles: a float sum is
      // order-dependent across partitionings, and at 10× fixture scale
      // (per-bucket sums ~1e11 over ~1.2M rows) the drift crosses the
      // 2-decimal rounding cell and hash-diverges from any fixed
      // reference — the money-aggregate rule a 100 TB engine follows
      // anyway. decimal(30,10) absorbs the doubles' binary expansion
      // identically in both engines; rounding the exact sum to cents
      // BEFORE the double cast keeps the unscaled value < 2^53, where
      // int128→double is exact in every engine (a scale-10 unscaled sum
      // is ~1e21 at 10× fixture scale, where DuckDB's decimal→double
      // lands 1 ulp off the correctly-rounded result).
      T(s, d, "lineitem")
        .join(broadcast(buckets), col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(30,10)"))
            .cast("decimal(30,2)").cast("double").as("revenue"))
    }),

    // As-of join: latest order at-or-before each event's timestamp for the
    // event's user (union+window formulation — AsOf.asofJoin).
    "q27_asof_join" -> ((s, d) => {
      val events = Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"))
      // unique right rows per (key, time): keep max orderkey
      val orders = T(s, d, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      AsOf.asofJoin(events, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightValues = Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"), col("asof_o_orderkey"))
    }),

    // Skew-salted join under the oracle: saltedJoin is row-identical to the
    // plain inner join by construction, so the oracle is the UNSALTED SQL
    // join — proving the salt changes shuffle layout, never results.
    "q42_skew_join" -> ((s, d) => {
      val li = T(s, d, "lineitem")
      val o = T(s, d, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      graft.operators.Skew.saltedJoin(li, o, Seq("l_orderkey"), salt = 8)
        .groupBy(col("o_orderstatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),

    // Hot-key-split variant: salts ONLY the listed heavy-hitter keys (here
    // the top-2 orderkeys by an exact lineitem groupBy-count, affordable at
    // fixture scale; the 100 TB detector is Skew.hotKeysSketch — one
    // combinable Misra–Gries aggregate + candidate-only verify, see
    // docs/DEPLOY.md); the cold path joins
    // replication-free. Oracle = the same UNSALTED SQL join as q42.
    "q42h_skew_hotkey" -> ((s, d) => {
      val li = T(s, d, "lineitem")
      val o = T(s, d, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      val hot = li.groupBy(col("l_orderkey")).count()
        .orderBy(col("count").desc, col("l_orderkey").asc).limit(2)
        .collect().map(_.getLong(0)).toSeq
      graft.operators.Skew.saltedJoinHot(li, o, Seq("l_orderkey"), salt = 8, hotKeys = hot)
        .groupBy(col("o_orderstatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),

    // Approximate distinct (HLL++) next to the exact count. The estimate
    // itself is estimator-specific (Spark HLL++ vs DuckDB HLL disagree by
    // design), so the cross-engine contract is the TOLERANCE: each engine
    // asserts ITS estimator lands within 5% of the exact count (HLL++
    // default rsd is 0.05), and the boolean + exact count hash-match. The
    // raw estimate and rel_err stay driver-visible via ScalaTest and the
    // dumped parquet of earlier rounds' rows-only form.
    "q28_approx_distinct" -> ((s, d) => {
      T(s, d, "events").groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            lit(0.05) * col("exact_users")).as("within_rsd"))
    }),

    // Typed-Aggregator UDAF (SURVEY §2.11): deterministic mode per group —
    // a real two-phase aggregate (partial maps per partition, merge at the
    // shuffle), not a collect-and-fold.
    "q47_mode_udaf" -> ((s, d) => {
      T(s, d, "orders").groupBy(col("o_orderstatus"))
        .agg(graft.functions.Aggregators.mode(col("o_orderpriority")).as("mode_priority"),
          count(lit(1)).as("n_rows"))
    }),

    // Pivot: order status → columns, yearly totals.
    "q29_pivot" -> ((s, d) => {
      T(s, d, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(round(sum(col("o_totalprice")), 2))
    }),

    // Window-function breadth: rank/dense_rank with ties, lag/lead, ntile,
    // running sum over an explicit frame.
    "q41_window_family" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, d, "customer")
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .withColumn("prev_bal", lag(col("c_acctbal"), 1).over(w))
        .withColumn("next_bal", lead(col("c_acctbal"), 1).over(w))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("running_bal", round(sum(col("c_acctbal")).over(frame), 2))
        .filter(col("rnk") <= 10)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          col("rnk"), col("drnk"), col("prev_bal"), col("next_bal"),
          col("quartile"), col("running_bal"))
    }),

    // J7: FULL OUTER equi-join with coalesced key.
    "q30_outer_join" -> ((s, d) => {
      val a = T(s, d, "nation").filter(col("n_nationkey") >= 5)
        .select(col("n_nationkey").as("id"), col("n_name"))
      val b = T(s, d, "customer").filter(col("c_nationkey") < 12)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
      a.join(b, col("id") === col("c_nationkey"), "full_outer")
        .select(coalesce(col("id"), col("c_nationkey")).as("nation_id"),
          col("n_name"), col("n_cust"))
    }),

    // F1/F2/F3/F6/F7/F16/F17/F21/F22 scalar kernel: the reference's exact
    // date/string conversions (silver_od datetime build, INE epoch fix,
    // 1-based list index, id/population cleanup) on fixture-derived strings.
    "q31_scalar_dates" -> ((s, d) => {
      T(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("line_no"),
          date_format(col("l_shipdate"), "yyyyMMdd").as("fecha"),
          (col("l_linenumber") % 24).cast("string").as("periodo"),
          col("l_shipdate"), col("l_partkey"))
        .select(
          col("l_orderkey"), col("line_no"),
          // F1+F3: fecha || lpad(periodo) → timestamp
          to_timestamp(concat(col("fecha"), lpad(col("periodo"), 2, "0")), "yyyyMMddHH").as("dt"),
          // F2: yyyyMMdd string → date
          to_date(col("fecha"), "yyyyMMdd").as("d"),
          // F7: epoch millis → date + 1 day (UTC). The fixture DERIVES a
          // plausible epoch from the order key; the % 20000 keeps that
          // derivation in the epoch-days domain (1970–2024) for ANY key
          // domain — l_orderkey × 86 400 000 overflows long beyond key
          // ~1.07e11, which both the 10× synthesized fixture (2^40 key
          // offsets) and real 100 TB-scale TPC-H keys exceed. The
          // reference's own input carries epoch millis as DATA (INE epoch
          // fix), so the bound lives in the derivation, not the operator.
          date_add(to_date(timestamp_millis((col("l_orderkey") % 20000) * 86400000)), 1)
            .as("epoch_day"),
          // F16/F17: 1-based element_at + size over a split array
          element_at(split(date_format(col("l_shipdate"), "yyyy-MM-dd"), "-"), 1).as("yr_str"),
          size(split(date_format(col("l_shipdate"), "yyyy-MM-dd"), "-")).cast("long").as("n_parts"),
          // F21: clean_id — trim + strip trailing '.0'
          regexp_replace(trim(concat(col("l_partkey").cast("string"), lit(".0"))), "\\.0$", "").as("clean_id"),
          // F22: clean_poblacion — strip dots, int cast, nulls→0
          coalesce(regexp_replace(concat(lit("1.2"), col("line_no").cast("string")), "\\.", "")
            .cast("int"), lit(0)).cast("long").as("clean_pop"))
    }),

    // The flagship silver transform itself (pipeline/Silver.od) under the
    // oracle: bronze-shaped all-string OD rows derived from lineitem, a
    // holiday dim derived from orders, then the full reference semantics —
    // datetime build, double casts, si/no booleans, weekend/holiday flags,
    // critical-field null filter (null distancia rows must drop).
    "q32_silver_od" -> ((s, d) => {
      val bronze = odBronze(s, d)
      val holidays = T(s, d, "orders").filter(col("o_orderkey") % 97 === 0)
        .select(to_date(col("o_orderdate")).as("date")).distinct()
      Silver.od(Map("distrito" -> bronze), holidays)
        .select(col("zone_level"), col("datetime"), col("origin_id"), col("destination_id"),
          col("n_trips"), col("km_trips"), col("distance"),
          col("study_possible_destination"), col("study_possible_origin"),
          col("is_weekend"), col("is_holiday"))
    }),

    // silver_zones + silver_distances end-to-end under the oracle: WKT
    // rectangles built from integer nation-derived coordinates — the
    // shoelace centroid is exact integer arithmetic, so the oracle can
    // compute the same centroid analytically ((x+1, y+1)) without a spatial
    // extension, then the same haversine as q13.
    "q35_silver_distances" -> ((s, d) => {
      val zones = Silver.zones(Map("distrito" -> zonesBronze(s, d)))
      Silver.distances(zones)
        .select(col("origin"), col("destination"),
          round(col("distance_km"), 3).as("dist_km"))
    }),

    // Silver.population: 2nd-segment tipo, no CNAE filter — completes the
    // INE trio under the oracle.
    "q37_silver_population" -> ((s, d) => {
      val n = T(s, d, "nation")
      val poblacion = poblacionFixture(s, d)
      val municipios = n.filter(col("n_nationkey") % 3 =!= 1)
        .select(col("n_nationkey").cast("string").as("Codigo"), upper(col("n_name")).as("Nombre"))
      val relations = n.select(
        lit("S").as("seccion_ine"), lit("D").as("distrito_ine"),
        col("n_nationkey").cast("string").as("municipio_ine"),
        when(col("n_nationkey") % 2 === 0, concat(lit("DM"), col("n_nationkey"))).as("distrito_mitma"),
        concat(lit("MM"), col("n_nationkey")).as("municipio_mitma"),
        lit(null).cast("string").as("gau_mitma"))
      Silver.population(poblacion, municipios, relations)
    }),

    // Silver.overnights + Silver.peopleDay under the oracle: yyyyMMdd date
    // parse, double casts, union tagging, critical-field null drop.
    "q38_silver_overnights" -> ((s, d) => {
      // deterministic subset (ADVICE r1): limit-without-order relied on
      // engines sharing one parquet file's row order
      val branch = overnightBranch(s, d)
      Silver.overnights(Map("distrito" -> branch, "municipio" -> branch))
    }),
    "q39_silver_people_day" -> ((s, d) =>
      // deterministic subset (ADVICE r1): limit-without-order relied on
      // engines sharing one parquet file's row order
      Silver.peopleDay(Map("gau" -> peopleDayBranch(s, d)))),

    // Silver.holidays under the oracle: nationwide filter + 1-based first
    // element of the name list + its text field.
    "q40_silver_holidays" -> ((s, d) => Silver.holidays(holidaysRawFixture(s, d))),

    // Statistical aggregates (stddev/variance/correlation/covariance).
    "q34_stats" -> ((s, d) => {
      T(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_cov"))
    }),

    // The INE silver chain (pipeline/Silver.business) under the oracle:
    // nested Data arrays built from nation/customer, exploded, epoch-fixed,
    // ILIKE-joined to a municipio dim, relations-joined, CNAE-filtered,
    // DISTINCT ON COD with the deterministic tiebreak.
    "q33_silver_business" -> ((s, d) => {
      val n = T(s, d, "nation")
      val empresas = empresasFixture(s, d)
      val municipios = n.filter(col("n_nationkey") % 3 =!= 0)
        .select(col("n_nationkey").cast("string").as("Codigo"), upper(col("n_name")).as("Nombre"))
      val relations = n.filter(col("n_nationkey") % 2 === 0).select(
        lit("S").as("seccion_ine"), lit("D").as("distrito_ine"),
        col("n_nationkey").cast("string").as("municipio_ine"),
        concat(lit("DM"), col("n_nationkey")).as("distrito_mitma"),
        when(col("n_nationkey") % 4 === 0, concat(lit("MM"), col("n_nationkey"))).as("municipio_mitma"),
        lit(null).cast("string").as("gau_mitma"))
      Silver.business(empresas, municipios, relations)
    }),

    // Silver.income under the oracle: exercises the distrito/sección regex
    // pre-filters, the suffix strip, the 3rd-segment tipo, and the
    // valor-not-null requirement.
    "q36_silver_income" -> ((s, d) =>
      Silver.income(rentaFixture(s, d), municipiosShared(s, d), relationsShared(s, d))),

    // The COMPOSED pipeline (reference workload shape, main.py:159-182): all
    // nine silver tables wired through Pipeline.buildSilver from one bronze
    // fixture set — q32's OD, q35's zones, q38/q39's MITMA branches, q40's
    // holidays, the three INE sources, ONE shared municipios/relations dim
    // pair (as the reference DAG feeds them). Output is the per-table row
    // count, so one action materializes every dependency edge (zones →
    // distances, holidaysRaw → holidays → od) and the oracle re-derives
    // each count from the same fixtures. This is also the per-round
    // end-to-end bench entry (VERDICT r4 item 8).
    "qp01_pipeline" -> ((s, d) => {
      val in = graft.pipeline.Pipeline.Inputs(
        odBranches = Map("distrito" -> odBronze(s, d)),
        overnightBranches = Map(
          "distrito" -> overnightBranch(s, d), "municipio" -> overnightBranch(s, d)),
        peopleDayBranches = Map("gau" -> peopleDayBranch(s, d)),
        zoneBranches = Map("distrito" -> zonesBronze(s, d)),
        holidaysRaw = holidaysRawFixture(s, d),
        empresas = empresasFixture(s, d),
        poblacion = poblacionFixture(s, d),
        renta = rentaFixture(s, d),
        municipios = municipiosShared(s, d),
        relations = relationsShared(s, d))
      graft.pipeline.Pipeline.buildSilver(in).toSeq.sortBy(_._1)
        .map { case (name, df) =>
          df.agg(count(lit(1)).cast("long").as("n_rows"))
            .select(lit(name).as("table_name"), col("n_rows"))
        }
        .reduce(_ unionByName _)
    }),

    // Deterministic hash-keyed train/val/test assignment (8/1/1 by weight):
    // the split column is a pure function of the key, so the same row lands
    // in the same split on any cluster/partitioning — verified by having
    // DuckDB re-derive the md5-fraction assignment independently and
    // hash-comparing per-split aggregates.
    "q43_split" -> ((s, d) =>
      Split.assignSplit(T(s, d, "orders"), col("o_orderkey"),
        Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0), seed = "r2")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          // exact decimal cents (q01_agg's round-10 scale rule): the 5M-row
          // splits sum to ~7.5e11 at 100× where a double sum's
          // partition-order drift crosses the cent
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))),

    // Snapshot diff (CDC): two deterministic snapshots of orders (deletes =
    // keys divisible by 5, inserts = keys divisible by 7, updates = price
    // uplift on keys divisible by 3) diffed into insert/delete/update rows.
    "q44_table_diff" -> ((s, d) => {
      val base = T(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
      val oldSnap = base.filter(col("o_orderkey") % 7 =!= 0)
      val newSnap = base.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")))
      TableDiff.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"))
    }),

    // Bloom-pruned join: big fact (lineitem) × selective dim (one nation's
    // suppliers). Blooms have no false negatives, so the pruned join must
    // return EXACTLY the plain join's rows — the oracle IS the un-pruned
    // SQL join.
    "q45_bloom_join" -> ((s, d) => {
      val small = T(s, d, "supplier").filter(col("s_nationkey") === 3)
        .select("s_suppkey", "s_name")
      graft.operators.BloomJoin.bloomPrunedJoin(
        T(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey").as("s_suppkey"),
          col("l_quantity")),
        small, Seq("s_suppkey"))
    }),

    // Fixed-iteration PageRank over the customer↔supplier trade graph
    // (both directions of every orders×lineitem trade edge, node ids
    // prefix-tagged to keep the key spaces apart). 3 iterations in
    // oracle mode: the DuckDB twin unrolls the same three iterations as
    // chained CTEs with the same source-ordered folds, so every
    // intermediate rank is bit-identical.
    "q50_pagerank" -> ((s, d) =>
      graft.operators.PageRank.pageRank(tradeGraph(s, d), "src", "dst",
        iters = 3, oracleMode = true, assumeDistinct = true)),

    // Production-mode probe (rows are still hash-oracled): plain
    // combinable SUM folds instead of oracle-mode's sorted folds — the
    // cost a real caller pays (the sorted fold was measured at 1.9×,
    // docs/SCALE.md "Round-8 delta (third pass)"). Output is the top-20 node SET
    // with ranks recomputed over the 6-decimal-rounded scores (node-id
    // tiebreak), so the ≤1-ulp partial-sum nondeterminism the production
    // fold allows is absorbed by the rounding and the row set stays
    // deterministic — which is what lets the probe keep a value-level
    // DuckDB oracle instead of going rows-only.
    "q50p_pagerank_prod" -> ((s, d) => {
      val r = graft.operators.PageRank.pageRank(tradeGraph(s, d), "src", "dst",
        iters = 3, assumeDistinct = true)
      topKByRank(r, 20)
    }),

    // TrustRank (personalized PageRank): teleport pinned to the nation-3
    // suppliers — rank measures proximity to the trusted seed set; a node
    // unreachable from the seeds scores 0. Same graph, same unrolled
    // oracle, multiplication-form teleport mirrored exactly.
    "q53_trustrank" -> ((s, d) => {
      val seeds = T(s, d, "supplier").filter(col("s_nationkey") === 3)
        .select((negate(col("s_suppkey").cast("long")) - 1).as("node"))
      graft.operators.PageRank.personalizedPageRank(tradeGraph(s, d), seeds,
        "src", "dst", "node", iters = 3, oracleMode = true,
        assumeDistinct = true)
    }),

    // TrustRank's production twin (q50p pattern): plain combinable SUM
    // folds instead of q53's oracle-mode sorted folds (measured ~1.9× on
    // q50's shape), value-oracled as the top-20 node set with ranks
    // recomputed over the 6-decimal-rounded scores — the rounding absorbs
    // the ≤1-ulp partial-sum nondeterminism the production fold allows.
    // With this twin the catalog prices oracle premium vs production cost
    // for BOTH graph entries, not just PageRank.
    "q53p_trustrank_prod" -> ((s, d) => {
      val seeds = T(s, d, "supplier").filter(col("s_nationkey") === 3)
        .select((negate(col("s_suppkey").cast("long")) - 1).as("node"))
      val r = graft.operators.PageRank.personalizedPageRank(tradeGraph(s, d),
        seeds, "src", "dst", "node", iters = 3, assumeDistinct = true)
      topKByRank(r, 20)
    }),

    // Residue-class subgraph panel twins (the qt12r/qt46s panel discipline
    // applied to graphs): the graph family's only oracle shape that stays
    // tractable at EVERY decade. The panel is the 1/31 residue class of
    // each node space (custkey % 31 == 7, suppkey % 31 == 7) and the
    // subgraph keeps edges with BOTH endpoints in panel — ~|E|/961 at any
    // corpus size, so the unrolled-CTE oracle that is MEMORY-bound at the
    // 100× fixture on the full graph (PARITY_r13_100x retry evidence:
    // 1500s/85GB OOM) runs in seconds on the twin. The Spark side is the
    // IDENTICAL operator code path the full entries run — store-served
    // bucketed edges (the filter preserves the bucketing), oracle-mode
    // sorted folds, per-iteration checkpoint — so a scale regression in
    // the iteration itself shows here as a value mismatch. Note the
    // synthesized fixtures rotate the panel per copy (2^40 ≡ 1 mod 31, so
    // copy i selects residue (7−i) mod 31 of base keys) — still exactly
    // 1/31 of each copy's node space.
    "q50s_pagerank_panel" -> ((s, d) =>
      graft.operators.PageRank.pageRank(panelGraph(s, d), "src", "dst",
        iters = 3, oracleMode = true, assumeDistinct = true)),

    // TrustRank on the panel subgraph. Seeds = ALL panel suppliers (the
    // supplier side of the residue class): any nation-scoped seed set
    // goes empty on some fixture (nation 3 ∩ panel is empty at every base
    // SF; no single nation covers sf0.001 AND sf0.01), and
    // personalizedPageRank requires ≥1 seed PRESENT in the graph — which
    // the supplier class satisfies at any scale by construction (every
    // panel edge has a supplier endpoint). Seeds absent from the subgraph
    // are ignored by operator and oracle alike (both intersect with the
    // node set before normalizing teleport mass).
    "q53s_trustrank_panel" -> ((s, d) => {
      val seeds = T(s, d, "supplier")
        .filter(col("s_suppkey") % 31 === 7)
        .select((negate(col("s_suppkey").cast("long")) - 1).as("node"))
      graft.operators.PageRank.personalizedPageRank(panelGraph(s, d), seeds,
        "src", "dst", "node", iters = 3, oracleMode = true,
        assumeDistinct = true)
    }))

  /** Top-k nodes by (rank desc, node asc), ranked 1..k. sort+limit first —
    * a DISTRIBUTED TakeOrderedAndProject (per-partition heaps, k rows to
    * the driver-side reduce) — then the row_number window runs on the
    * k-row frame. A bare global window would move EVERY node to one
    * partition (WindowExec warns; at graph scale that's the whole node
    * set through one task). Ordering is total (node-id tiebreak), so the
    * two-step produces bit-identical rows to the single-window form.
    * Ranks order by round(rank, 6), NOT the raw Double: the DuckDB oracle
    * ranks over 6-decimal-rounded scores (the rounding that absorbs the
    * production fold's ≤1-ulp partial-sum nondeterminism), so two scores
    * that differ past the 6th decimal but round equal must fall to the
    * node-asc tiebreak HERE too — ordering by the raw score could flip
    * them against the oracle on a near-tie graph.
    */
  private def topKByRank(r: DataFrame, k: Int): DataFrame =
    r.orderBy(round(col("rank"), 6).desc, col("node").asc).limit(k)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(round(col("rank"), 6).desc, col("node").asc)))
      .select(col("node"), col("rnk"))

  /** q50/q53/q50p's shared edge list: both directions of every
    * customer↔supplier trade relation in orders×lineitem, node ids
    * prefix-tagged. Built ONCE per (JVM, table dir) and persisted to a
    * temp parquet — the BM25/PQ build-once/serve-many seam applied to the
    * graph family: PageRank, TrustRank, and the production probe all
    * serve from the same persisted DISTINCT edge store instead of each
    * re-deriving the orders×lineitem join + distinct from scans (the DSIR
    * shared-exchange discipline applied ACROSS entries). Parquet rather
    * than a shared localCheckpoint deliberately: unpersisting a local
    * checkpoint is unrecoverable (lineage is truncated), so checkpoint
    * blocks cannot survive a caller's cache-isolation epilogue — and at
    * cluster scale a shared graph store is a table, not executor memory.
    */
  private val edgeStore = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The distinct both-direction edge frame itself — ONE definition, used
    * by the store builder below, so what the store holds is by construction
    * what the entries serve (build cost: docs/SCALE.md "Round-9 delta: the
    * trade graph becomes a persisted store").
    */
  private[graft] def buildTradeEdges(s: SparkSession, d: String): DataFrame = {
    // BIGINT node ids, sign-tagged (the synthesizer's negative-sentinel
    // rule): customer node = custkey, supplier node = −(suppkey+1) — total
    // over the whole non-negative key domain with zero collision risk.
    // r15 change from the 'c:'||key VARCHAR tags: the 100× staged oracle
    // was MEMORY-bound at 85 GB largely because every 160M-edge
    // contribution frame carried VARCHAR node ids (r13 retry evidence);
    // 8-byte fixed-width keys shrink those frames ~4× on both engines,
    // and hash/sort on longs beats strings at every scale.
    val ol = T(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(T(s, d, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")), "o_orderkey")
      .select(col("o_custkey").cast("long").as("cnode"),
        (negate(col("l_suppkey").cast("long")) - 1).as("snode"))
    ol.select(col("cnode").as("src"), col("snode").as("dst"))
      .unionByName(ol.select(col("snode").as("src"), col("cnode").as("dst")))
      .distinct()
  }

  /** The store is one [graft.sources.Artifacts] store whose single part
    * is BUCKETED on src, not loose parquet: the power iteration joins
    * edges on src and groups them on src (outdegree) once PER ITERATION
    * per entry, and a plain parquet scan re-shuffles the edge side every
    * time — the shuffle that grows linearly with the corpus and is why
    * the graph entries topped the round-10 scale-exponent table. A
    * bucketed scan reports hash(src, n), n the building session's
    * shuffle partitions, and those exchanges vanish
    * (PlanSpec gates it); at cluster scale this is exactly "bucket the
    * edge table by src so iterations co-locate", the layout decision made
    * once at store-build time. The catalog entry is per-session metadata
    * over the same temp files, so a later session re-registers it from
    * the manifest instead of rebuilding.
    */
  private def tradeGraph(s: SparkSession, d: String): DataFrame = {
    val dir = edgeStore.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft_trade_edges_").toString
      Tables.deleteOnExit(dir) // temp store dies with the JVM
      Artifacts.write(dir, "trade_edges",
        Seq(Artifacts.Part("edges", buildTradeEdges(s, d), Some("src"))))
      dir
    })
    Artifacts.load(s, dir, "trade_edges")("edges").select(col("src"), col("dst"))
  }

  /** Catalog table of the trade-edge store built for fixture dir `d`. */
  private[graft] def tradeEdgeTable(d: String): String =
    Artifacts.tableName(edgeStore.get(d), "edges")

  /** q50s/q53s's residue-class panel subgraph: the bucketed edge store
    * filtered to edges whose BOTH endpoint keys sit in the % 31 == 7
    * residue class. Filtering the store-served frame preserves its
    * hash(src) bucketing (a Filter doesn't change outputPartitioning), so
    * the power iteration stays Exchange-free on the edge side exactly as
    * the full-graph entries are; distinctness survives filtering, so
    * assumeDistinct remains valid. The raw key is decoded off the
    * sign-tagged BIGINT node id (node ≥ 0 → node; node < 0 → −node−1) —
    * identical to filtering the raw keys pre-encode, which is what the
    * oracle does.
    */
  private def panelGraph(s: SparkSession, d: String): DataFrame = {
    def inPanel(c: org.apache.spark.sql.Column) =
      when(c >= 0, c).otherwise(negate(c) - 1) % 31 === 7
    tradeGraph(s, d).filter(inPanel(col("src")) && inPanel(col("dst")))
  }

  /** q50's DuckDB twin: `iters` PageRank rounds unrolled as chained CTEs,
    * every per-node sum a source-ordered `list_sum` (the Spark side's
    * oracle-mode sorted fold). All float arithmetic is forced through
    * ::DOUBLE — DuckDB's bare `1.0 - 0.85` is exact DECIMAL arithmetic,
    * which would diverge from IEEE by an ulp and compound per iteration.
    */
  private def pagerankSql(iters: Int, personalized: Boolean = false,
                          topK: Option[Int] = None,
                          panel: Boolean = false): String = {
    // panel twins (q50s/q53s): both-endpoint residue filter on the RAW
    // keys, pushed into both union arms so DuckDB prunes at the scans —
    // the predicate the Spark side applies to the parsed-back node ids
    val pw = if (panel) "\n    WHERE o_custkey % 31 = 7 AND l_suppkey % 31 = 7"
             else ""
    // BIGINT sign-tagged node ids (customer = custkey, supplier =
    // −(suppkey+1)) — mirrors buildTradeEdges; the former 'c:'||key
    // VARCHAR tags were the bulk of the 100× staged form's 85 GB
    // (every 160M-edge contribution frame carried string keys)
    val graph =
      s"""WITH e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |   SELECT o_custkey::BIGINT AS src, -(l_suppkey::BIGINT) - 1 AS dst
        |    FROM orders JOIN lineitem ON l_orderkey = o_orderkey$pw
        |   UNION ALL
        |   SELECT -(l_suppkey::BIGINT) - 1, o_custkey::BIGINT
        |    FROM orders JOIN lineitem ON l_orderkey = o_orderkey$pw)),
        | nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
        |   SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        | nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
        | od AS MATERIALIZED (SELECT src, count(*)::BIGINT AS odeg FROM e GROUP BY 1)"""
    // q53 seeds nation 3; the q53s panel twin seeds the whole panel
    // supplier class (a nation-scoped set goes empty on some fixture —
    // see the entry)
    val seedPred =
      if (panel) "s_suppkey % 31 = 7"
      else "s_nationkey = 3"
    val init =
      if (!personalized)
        """,
          | r0 AS (SELECT node, 1.0::DOUBLE / n::DOUBLE AS rank FROM nodes CROSS JOIN nn)"""
      else
        s""",
          | seeds AS (SELECT DISTINCT -(s_suppkey::BIGINT) - 1 AS node FROM supplier WHERE $seedPred),
          | ns AS (SELECT count(*)::BIGINT AS n FROM seeds JOIN nodes USING (node)),
          | tn AS MATERIALIZED (SELECT n2.node,
          |   CASE WHEN s.node IS NOT NULL THEN 1.0::DOUBLE / ns.n::DOUBLE ELSE 0.0::DOUBLE END AS t
          |  FROM nodes n2 LEFT JOIN seeds s USING (node) CROSS JOIN ns),
          | r0 AS (SELECT node, t AS rank FROM tn)"""
    val its = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      val update =
        if (!personalized)
          s""" r$i AS (SELECT n2.node,
             |    (1.0::DOUBLE - 0.85::DOUBLE) / nn.n::DOUBLE + 0.85::DOUBLE *
             |      (coalesce(f.inflow, 0.0::DOUBLE) + d.dmass / nn.n::DOUBLE) AS rank
             |   FROM nodes n2 LEFT JOIN f$i f USING (node) CROSS JOIN d$i d CROSS JOIN nn)"""
        else
          s""" r$i AS (SELECT n2.node,
             |    (1.0::DOUBLE - 0.85::DOUBLE) * n2.t + 0.85::DOUBLE *
             |      (coalesce(f.inflow, 0.0::DOUBLE) + d.dmass * n2.t) AS rank
             |   FROM tn n2 LEFT JOIN f$i f USING (node) CROSS JOIN d$i d)"""
      s""",
         | c$i AS (SELECT e.dst AS node, e.src, r.rank / od.odeg AS c
         |   FROM e JOIN $p r ON r.node = e.src JOIN od ON od.src = e.src),
         | f$i AS (SELECT node, list_sum(list(c ORDER BY src)) AS inflow FROM c$i GROUP BY node),
         | d$i AS (SELECT coalesce(list_sum(list(rank ORDER BY node)), 0.0::DOUBLE) AS dmass
         |   FROM $p r WHERE NOT EXISTS (SELECT 1 FROM od WHERE od.src = r.node)),
         |$update"""
    }.mkString
    val select = topK match {
      case None => s"\nSELECT node, round(rank, 6) AS rank FROM r$iters"
      case Some(k) =>
        s"""\nSELECT node, rnk::INT AS rnk FROM (
           |  SELECT node, row_number() OVER (ORDER BY round(rank, 6) DESC, node ASC) AS rnk
           |  FROM r$iters) WHERE rnk <= $k""".stripMargin
    }
    (graph + init + its + select).stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q50_pagerank" -> pagerankSql(3),
    "q50p_pagerank_prod" -> pagerankSql(3, topK = Some(20)),
    "q53_trustrank" -> pagerankSql(3, personalized = true),
    "q53p_trustrank_prod" -> pagerankSql(3, personalized = true, topK = Some(20)),
    "q50s_pagerank_panel" -> pagerankSql(3, panel = true),
    "q53s_trustrank_panel" -> pagerankSql(3, personalized = true, panel = true),
    "q21_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q22_string_agg" ->
      """SELECT s_nationkey, string_agg(s_name, ',' ORDER BY s_name) AS names, count(*) AS n_supp
        |FROM supplier GROUP BY s_nationkey""".stripMargin,
    "q23_percentile" ->
      """SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        | round(quantile_cont(l_quantity, 0.9), 6) AS p90,
        | round(quantile_cont(l_extendedprice, 0.99), 6) AS price_p99
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q24_exists" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')""".stripMargin,
    "q25_conditional_agg" ->
      """SELECT c_mktsegment,
        | count(*) FILTER (WHERE c_acctbal > 0) AS n_positive,
        | round(sum(CASE WHEN c_acctbal > 0 THEN c_acctbal ELSE 0.0 END), 2) AS sum_positive,
        | round(avg(CASE WHEN c_nationkey < 12 THEN c_acctbal END), 6) AS avg_low_nation
        |FROM customer GROUP BY c_mktsegment""".stripMargin,
    "q26_range_join" ->
      """WITH buckets AS (
        | SELECT (id*10)::DOUBLE AS lo, ((id+1)*10)::DOUBLE AS hi, 'q' || id::VARCHAR AS bucket
        | FROM range(5) t(id))
        |SELECT bucket, count(*) AS n,
        | (sum(l_extendedprice::DECIMAL(30,10)))::DECIMAL(30,2)::DOUBLE AS revenue
        |FROM lineitem JOIN buckets ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY bucket""".stripMargin,
    "q27_asof_join" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY 1, 2),
        | e AS (SELECT event_id, user_id, make_timestamp(epoch_ns(ts)//1000) AS ts_us FROM events)
        |SELECT e.event_id, e.user_id, o.o_orderkey AS asof_o_orderkey
        |FROM e ASOF LEFT JOIN o
        | ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts_us""".stripMargin,
    "q42_skew_join" ->
      """SELECT o_orderstatus, round(sum(l_quantity), 2) AS sum_qty,
        | count(*) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "q42h_skew_hotkey" ->
      """SELECT o_orderstatus, round(sum(l_quantity), 2) AS sum_qty,
        | count(*) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    // Each engine checks its OWN estimator against the exact count (Spark
    // HLL++, DuckDB HLL): the exact counts and the within-5% verdicts must
    // agree even though the raw estimates differ.
    "q28_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        | abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
        |   <= 0.05 * count(DISTINCT user_id) AS within_rsd
        |FROM events GROUP BY 1""".stripMargin,
    // Deterministic mode re-derived relationally: counts per (group,
    // value), smallest value wins ties.
    "q47_mode_udaf" ->
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |   FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1, 2),
        | r AS (SELECT o_orderstatus, o_orderpriority,
        |   row_number() OVER (PARTITION BY o_orderstatus ORDER BY cnt DESC, o_orderpriority ASC) AS rn
        |  FROM c),
        | t AS (SELECT o_orderstatus, count(*) AS n_rows FROM orders GROUP BY 1)
        |SELECT t.o_orderstatus, r.o_orderpriority AS mode_priority, t.n_rows
        |FROM t LEFT JOIN r ON r.o_orderstatus = t.o_orderstatus AND r.rn = 1""".stripMargin,
    "q29_pivot" ->
      """SELECT EXTRACT(YEAR FROM o_orderdate)::BIGINT AS yr,
        | round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS "O",
        | round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS "F",
        | round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS "P"
        |FROM orders GROUP BY 1""".stripMargin,
    "q41_window_family" ->
      """SELECT c_nationkey, c_custkey, c_acctbal,
        | rank() OVER w::BIGINT AS rnk,
        | dense_rank() OVER w::BIGINT AS drnk,
        | lag(c_acctbal, 1) OVER w AS prev_bal,
        | lead(c_acctbal, 1) OVER w AS next_bal,
        | ntile(4) OVER w::BIGINT AS quartile,
        | round(sum(c_acctbal) OVER (PARTITION BY c_nationkey
        |   ORDER BY c_acctbal DESC, c_custkey ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_bal
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
        |QUALIFY rank() OVER w <= 10""".stripMargin,
    "q30_outer_join" ->
      """SELECT coalesce(a.id, b.c_nationkey) AS nation_id, a.n_name, b.n_cust
        |FROM (SELECT n_nationkey AS id, n_name FROM nation WHERE n_nationkey >= 5) a
        |FULL OUTER JOIN (SELECT c_nationkey, count(*) AS n_cust FROM customer
        |                 WHERE c_nationkey < 12 GROUP BY c_nationkey) b
        | ON a.id = b.c_nationkey""".stripMargin,
    "q31_scalar_dates" ->
      """WITH base AS (SELECT l_orderkey, l_linenumber::BIGINT AS line_no,
        |   strftime(l_shipdate, '%Y%m%d') AS fecha,
        |   (l_linenumber % 24)::VARCHAR AS periodo, l_shipdate, l_partkey
        |  FROM lineitem)
        |SELECT l_orderkey, line_no,
        | strptime(fecha || lpad(periodo, 2, '0'), '%Y%m%d%H') AS dt,
        | strptime(fecha, '%Y%m%d')::DATE AS d,
        | (epoch_ms((l_orderkey % 20000) * 86400000)::DATE + INTERVAL 1 DAY)::DATE AS epoch_day,
        | string_split(strftime(l_shipdate, '%Y-%m-%d'), '-')[1] AS yr_str,
        | len(string_split(strftime(l_shipdate, '%Y-%m-%d'), '-'))::BIGINT AS n_parts,
        | regexp_replace(trim(l_partkey::VARCHAR || '.0'), '\.0$', '') AS clean_id,
        | coalesce(TRY_CAST(regexp_replace('1.2' || line_no::VARCHAR, '\.', '', 'g') AS INTEGER), 0)::BIGINT AS clean_pop
        |FROM base""".stripMargin,
    "q32_silver_od" ->
      """WITH bronze AS (SELECT
        |   strftime(l_shipdate, '%Y%m%d') AS fecha,
        |   (l_linenumber % 24)::VARCHAR AS periodo,
        |   l_orderkey::VARCHAR AS origen,
        |   l_partkey::VARCHAR AS destino,
        |   CASE WHEN l_quantity < 25 THEN '0.5-2'
        |        WHEN l_returnflag = 'R' THEN NULL ELSE '2-10' END AS distancia,
        |   l_quantity AS viajes, l_extendedprice AS viajes_km,
        |   CASE WHEN l_returnflag = 'R' THEN 'si'
        |        WHEN l_returnflag = 'A' THEN 'NO' ELSE 'xx' END AS est_d,
        |   CASE WHEN l_linenumber % 2 = 0 THEN 'Si' ELSE 'no' END AS est_o
        |  FROM lineitem),
        | holidays AS (SELECT DISTINCT o_orderdate::DATE AS date FROM orders WHERE o_orderkey % 97 = 0),
        | base AS (SELECT
        |   'distrito' AS zone_level,
        |   strptime(fecha || lpad(periodo, 2, '0'), '%Y%m%d%H') AS datetime,
        |   origen AS origin_id, destino AS destination_id,
        |   CAST(viajes AS DOUBLE) AS n_trips, CAST(viajes_km AS DOUBLE) AS km_trips,
        |   distancia AS distance,
        |   CASE WHEN lower(est_d) = 'si' THEN TRUE WHEN lower(est_d) = 'no' THEN FALSE END AS study_possible_destination,
        |   CASE WHEN lower(est_o) = 'si' THEN TRUE WHEN lower(est_o) = 'no' THEN FALSE END AS study_possible_origin
        |  FROM bronze),
        | enriched AS (SELECT *,
        |   dayofweek(datetime) IN (0, 6) AS is_weekend,
        |   CAST(datetime AS DATE) IN (SELECT date FROM holidays) AS is_holiday
        |  FROM base)
        |SELECT * FROM enriched
        |WHERE datetime IS NOT NULL AND origin_id IS NOT NULL AND destination_id IS NOT NULL
        |  AND n_trips IS NOT NULL AND km_trips IS NOT NULL AND distance IS NOT NULL""".stripMargin,
    "q37_silver_population" ->
      """WITH poblacion AS (SELECT 'P' || n_nationkey AS COD,
        |   n_name || '. Total. Población.' AS Nombre,
        |   [{'Fecha': n_nationkey::BIGINT * 86400000,
        |     'Valor': (n_nationkey * 1000)::DOUBLE}] AS Data
        |  FROM nation),
        | municipios AS (SELECT n_nationkey::VARCHAR AS Codigo, upper(n_name) AS Nombre
        |  FROM nation WHERE n_nationkey % 3 != 1),
        | relations AS (SELECT n_nationkey::VARCHAR AS municipio_ine,
        |   CASE WHEN n_nationkey % 2 = 0 THEN 'DM' || n_nationkey END AS distrito_mitma,
        |   'MM' || n_nationkey AS municipio_mitma, NULL::VARCHAR AS gau_mitma FROM nation),
        | flat AS (SELECT p.COD,
        |   (epoch_ms(CAST(item.Fecha AS BIGINT))::DATE + INTERVAL 1 DAY)::DATE AS fecha,
        |   coalesce(nullif(trim(split_part(p.Nombre, '.', 1)), ''), p.Nombre) AS nombre,
        |   lower(trim(split_part(p.Nombre, '.', 2))) AS tipo,
        |   CAST(item.Valor AS DOUBLE) AS valor
        |  FROM poblacion p, UNNEST(p.Data) AS t(item)
        |  WHERE p.Data IS NOT NULL AND len(p.Data) > 0),
        | joined AS (SELECT m.Codigo AS codigo_ine, f.COD, f.fecha, f.nombre, f.tipo, f.valor,
        |   r.distrito_mitma, r.municipio_mitma, r.gau_mitma
        |  FROM flat f LEFT JOIN municipios m ON lower(f.nombre) = lower(m.Nombre)
        |  LEFT JOIN relations r ON m.Codigo = r.municipio_ine
        |  WHERE (r.distrito_mitma IS NOT NULL OR r.municipio_mitma IS NOT NULL OR r.gau_mitma IS NOT NULL)),
        | ranked AS (SELECT *, row_number() OVER (PARTITION BY COD ORDER BY
        |   codigo_ine ASC NULLS FIRST, fecha ASC NULLS FIRST, nombre ASC NULLS FIRST,
        |   tipo ASC NULLS FIRST, valor ASC NULLS FIRST, distrito_mitma ASC NULLS FIRST,
        |   municipio_mitma ASC NULLS FIRST, gau_mitma ASC NULLS FIRST) AS rn FROM joined)
        |SELECT codigo_ine, fecha, nombre, tipo, valor, distrito_mitma, municipio_mitma, gau_mitma
        |FROM ranked WHERE rn = 1""".stripMargin,
    "q38_silver_overnights" ->
      """WITH li AS (SELECT * FROM lineitem WHERE l_orderkey % 12 = 0),
        | branch AS (SELECT strftime(l_shipdate, '%Y%m%d') AS fecha,
        |   CASE WHEN l_linenumber = 7 THEN NULL ELSE l_suppkey::VARCHAR END AS zona_residencia,
        |   l_partkey::VARCHAR AS zona_pernoctacion,
        |   l_quantity::VARCHAR AS personas
        |  FROM li),
        | base AS (
        |  SELECT 'distrito' AS zone_level, strptime(fecha, '%Y%m%d')::DATE AS date,
        |    zona_pernoctacion AS overnight_zone, zona_residencia AS residence_zone,
        |    CAST(personas AS DOUBLE) AS people FROM branch
        |  UNION ALL
        |  SELECT 'municipio', strptime(fecha, '%Y%m%d')::DATE,
        |    zona_pernoctacion, zona_residencia, CAST(personas AS DOUBLE) FROM branch)
        |SELECT * FROM base
        |WHERE date IS NOT NULL AND overnight_zone IS NOT NULL
        |  AND residence_zone IS NOT NULL AND people IS NOT NULL""".stripMargin,
    "q39_silver_people_day" ->
      """WITH li AS (SELECT * FROM lineitem WHERE l_orderkey % 12 = 0)
        |SELECT 'gau' AS zone_level, strptime(strftime(l_shipdate, '%Y%m%d'), '%Y%m%d')::DATE AS date,
        | l_suppkey::VARCHAR AS overnight_zone, '25-45' AS age,
        | CASE WHEN l_linenumber % 2 = 0 THEN 'M' ELSE 'F' END AS sex,
        | CASE WHEN l_quantity > 40 THEN '2+' ELSE l_linenumber::VARCHAR END AS n_trips,
        | CAST(l_extendedprice::VARCHAR AS DOUBLE) AS people
        |FROM li""".stripMargin,
    "q40_silver_holidays" ->
      """SELECT ('2024-01-' || lpad((n_nationkey % 28 + 1)::VARCHAR, 2, '0'))::DATE AS date,
        | ('Fiesta ' || n_name) AS name
        |FROM nation WHERE n_nationkey % 3 != 0""".stripMargin,
    "q36_silver_income" ->
      """WITH renta AS (SELECT 'R' || n_nationkey AS COD,
        |   n_name || CASE WHEN n_nationkey % 4 = 0 THEN ' distrito 01. Total. Renta neta media por persona.'
        |                  WHEN n_nationkey % 4 = 1 THEN ' sección 0101. Total. Renta neta media por persona.'
        |                  ELSE '. Total. Renta neta media por persona.' END AS Nombre,
        |   [{'Fecha': n_nationkey::BIGINT * 86400000,
        |     'Valor': CASE WHEN n_nationkey % 5 = 0 THEN NULL
        |                   ELSE (n_regionkey * 1000 + 15000)::DOUBLE END}] AS Data
        |  FROM nation),
        | municipios AS (SELECT n_nationkey::VARCHAR AS Codigo, upper(n_name) AS Nombre FROM nation),
        | relations AS (SELECT n_nationkey::VARCHAR AS municipio_ine,
        |   'DM' || n_nationkey AS distrito_mitma,
        |   NULL::VARCHAR AS municipio_mitma, NULL::VARCHAR AS gau_mitma FROM nation),
        | pre AS (SELECT * FROM renta
        |  WHERE NOT regexp_matches(lower(Nombre), '(sección|seccion)\s+\d+')
        |    AND NOT regexp_matches(lower(Nombre), 'distrito\s+\d+')),
        | flat AS (SELECT r.COD,
        |   (epoch_ms(CAST(item.Fecha AS BIGINT))::DATE + INTERVAL 1 DAY)::DATE AS fecha,
        |   trim(regexp_replace(split_part(r.Nombre, '.', 1),
        |        '\s+(distrito|sección|seccion)\s+\d+', '', 'gi')) AS nombre,
        |   lower(trim(split_part(r.Nombre, '.', 3))) AS tipo,
        |   CAST(item.Valor AS DOUBLE) AS valor
        |  FROM pre r, UNNEST(r.Data) AS t(item)
        |  WHERE r.Data IS NOT NULL AND len(r.Data) > 0),
        | joined AS (SELECT m.Codigo AS codigo_ine, f.COD, f.fecha, f.nombre, f.tipo, f.valor,
        |   rel.distrito_mitma, rel.municipio_mitma, rel.gau_mitma
        |  FROM flat f LEFT JOIN municipios m ON lower(f.nombre) = lower(m.Nombre)
        |  LEFT JOIN relations rel ON m.Codigo = rel.municipio_ine
        |  WHERE f.valor IS NOT NULL AND
        |   (rel.distrito_mitma IS NOT NULL OR rel.municipio_mitma IS NOT NULL OR rel.gau_mitma IS NOT NULL)),
        | ranked AS (SELECT *, row_number() OVER (PARTITION BY COD ORDER BY
        |   codigo_ine ASC NULLS FIRST, fecha ASC NULLS FIRST, nombre ASC NULLS FIRST,
        |   tipo ASC NULLS FIRST, valor ASC NULLS FIRST, distrito_mitma ASC NULLS FIRST,
        |   municipio_mitma ASC NULLS FIRST, gau_mitma ASC NULLS FIRST) AS rn FROM joined)
        |SELECT codigo_ine, fecha, nombre, tipo, valor, distrito_mitma, municipio_mitma, gau_mitma
        |FROM ranked WHERE rn = 1""".stripMargin,
    "q35_silver_distances" ->
      """WITH pts AS (SELECT n_name AS id,
        |   ((n_nationkey * 7) % 120 - 60 + 1)::DOUBLE AS lon,
        |   ((n_nationkey * 3) % 160 - 80 + 1)::DOUBLE AS lat
        |  FROM nation),
        | pairs AS (SELECT a.id AS origin, b.id AS destination,
        |   radians(a.lat) AS la1, radians(b.lat) AS la2,
        |   radians(b.lat) - radians(a.lat) AS dla,
        |   radians(b.lon) - radians(a.lon) AS dlo
        |  FROM pts a JOIN pts b ON a.id != b.id),
        | h AS (SELECT origin, destination,
        |   pow(sin(dla/2), 2) + cos(la1)*cos(la2)*pow(sin(dlo/2), 2) AS s
        |  FROM pairs)
        |SELECT origin, destination,
        | round(2*6371008.8*atan2(sqrt(s), sqrt(1-s))/1000.0, 3) AS dist_km FROM h""".stripMargin,
    "q34_stats" ->
      """SELECT l_returnflag, round(stddev_samp(l_extendedprice), 4) AS sd_price,
        | round(var_samp(l_quantity), 4) AS var_qty,
        | round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
        | round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_cov
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q33_silver_business" ->
      """WITH empresas AS (SELECT 'COD' || n_nationkey AS COD,
        |   n_name || CASE WHEN n_nationkey % 5 = 0 THEN '. Total. Empresas. Industria.'
        |                  ELSE '. Total. Empresas. Total CNAE.' END AS Nombre,
        |   CASE WHEN n_nationkey % 7 = 0 THEN CAST([] AS STRUCT(Fecha BIGINT, Valor DOUBLE)[])
        |        ELSE [{'Fecha': n_nationkey::BIGINT * 86400000, 'Valor': n_regionkey::DOUBLE},
        |              {'Fecha': n_nationkey::BIGINT * 86400000 + 86400000, 'Valor': (n_regionkey + 10)::DOUBLE}]
        |   END AS Data
        |  FROM nation),
        | municipios AS (SELECT n_nationkey::VARCHAR AS Codigo, upper(n_name) AS Nombre
        |  FROM nation WHERE n_nationkey % 3 != 0),
        | relations AS (SELECT n_nationkey::VARCHAR AS municipio_ine,
        |   'DM' || n_nationkey AS distrito_mitma,
        |   CASE WHEN n_nationkey % 4 = 0 THEN 'MM' || n_nationkey END AS municipio_mitma,
        |   NULL::VARCHAR AS gau_mitma
        |  FROM nation WHERE n_nationkey % 2 = 0),
        | flat AS (SELECT e.COD,
        |   (epoch_ms(CAST(item.Fecha AS BIGINT))::DATE + INTERVAL 1 DAY)::DATE AS fecha,
        |   coalesce(nullif(trim(split_part(e.Nombre, '.', 1)), ''), e.Nombre) AS nombre,
        |   trim(split_part(e.Nombre, '.', 4)) AS tipo,
        |   CAST(item.Valor AS DOUBLE) AS valor
        |  FROM empresas e, UNNEST(e.Data) AS t(item)
        |  WHERE e.Data IS NOT NULL AND len(e.Data) > 0),
        | joined AS (SELECT m.Codigo AS codigo_ine, f.COD, f.fecha, f.nombre, f.tipo, f.valor,
        |   r.distrito_mitma, r.municipio_mitma, r.gau_mitma
        |  FROM flat f LEFT JOIN municipios m ON lower(f.nombre) = lower(m.Nombre)
        |  LEFT JOIN relations r ON m.Codigo = r.municipio_ine
        |  WHERE lower(f.tipo) LIKE '%cnae%' AND
        |   (r.distrito_mitma IS NOT NULL OR r.municipio_mitma IS NOT NULL OR r.gau_mitma IS NOT NULL)),
        | ranked AS (SELECT *, row_number() OVER (PARTITION BY COD ORDER BY
        |   codigo_ine ASC NULLS FIRST, fecha ASC NULLS FIRST, nombre ASC NULLS FIRST,
        |   tipo ASC NULLS FIRST, valor ASC NULLS FIRST, distrito_mitma ASC NULLS FIRST,
        |   municipio_mitma ASC NULLS FIRST, gau_mitma ASC NULLS FIRST) AS rn FROM joined)
        |SELECT codigo_ine, fecha, nombre, tipo, valor, distrito_mitma, municipio_mitma, gau_mitma
        |FROM ranked WHERE rn = 1""".stripMargin,
    // 16^12 = 281474976710656; thresholds 8/10 and 9/10 are exact doubles,
    // so the CASE literals match Spark's normalized cumulative weights bit
    // for bit.
    "q43_split" ->
      """WITH b AS (SELECT o_orderkey, o_totalprice,
        |   (('0x' || substr(md5(o_orderkey::VARCHAR || 'r2'), 1, 12))::BIGINT)::DOUBLE
        |     / 281474976710656.0 AS u
        |  FROM orders),
        | s AS (SELECT *, CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
        |                      ELSE 'test' END AS split FROM b)
        |SELECT split, count(*)::BIGINT AS n,
        | sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS sum_price,
        | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM s GROUP BY split""".stripMargin,
    "q44_table_diff" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        | os AS (SELECT * FROM base WHERE o_orderkey % 7 != 0),
        | ns AS (SELECT o_orderkey, o_orderstatus,
        |   CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice
        |  FROM base WHERE o_orderkey % 5 != 0),
        | j AS (SELECT coalesce(os.o_orderkey, ns.o_orderkey) AS o_orderkey,
        |   CASE WHEN os.o_orderkey IS NULL THEN 'insert'
        |        WHEN ns.o_orderkey IS NULL THEN 'delete'
        |        WHEN (os.o_orderstatus IS DISTINCT FROM ns.o_orderstatus)
        |          OR (os.o_totalprice IS DISTINCT FROM ns.o_totalprice) THEN 'update' END AS change_type,
        |   os.o_orderstatus AS o_orderstatus_old, ns.o_orderstatus AS o_orderstatus_new,
        |   os.o_totalprice AS o_totalprice_old, ns.o_totalprice AS o_totalprice_new
        |  FROM os FULL OUTER JOIN ns ON os.o_orderkey = ns.o_orderkey)
        |SELECT * FROM j WHERE change_type IS NOT NULL""".stripMargin,
    "q45_bloom_join" ->
      """SELECT l.l_orderkey, l.l_suppkey AS s_suppkey, l.l_quantity, s.s_name
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |WHERE s.s_nationkey = 3""".stripMargin,
    // Composed pipeline: every table's row count re-derived from the same
    // bronze fixtures. The INE counts walk the full UNNEST→join→filter
    // chains (count(DISTINCT COD) ≡ the DISTINCT ON COD row count); the
    // MITMA counts mirror the null-producing CASEs ahead of the
    // critical-field drops.
    "qp01_pipeline" ->
      """WITH empresas AS (SELECT 'COD' || n_nationkey AS COD,
        |   n_name || CASE WHEN n_nationkey % 5 = 0 THEN '. Total. Empresas. Industria.'
        |                  ELSE '. Total. Empresas. Total CNAE.' END AS Nombre,
        |   CASE WHEN n_nationkey % 7 = 0 THEN CAST([] AS STRUCT(Fecha BIGINT, Valor DOUBLE)[])
        |        ELSE [{'Fecha': n_nationkey::BIGINT * 86400000, 'Valor': n_regionkey::DOUBLE},
        |              {'Fecha': n_nationkey::BIGINT * 86400000 + 86400000, 'Valor': (n_regionkey + 10)::DOUBLE}]
        |   END AS Data
        |  FROM nation),
        | poblacion AS (SELECT 'P' || n_nationkey AS COD,
        |   n_name || '. Total. Población.' AS Nombre,
        |   [{'Fecha': n_nationkey::BIGINT * 86400000, 'Valor': (n_nationkey * 1000)::DOUBLE}] AS Data
        |  FROM nation),
        | renta AS (SELECT 'R' || n_nationkey AS COD,
        |   n_name || CASE WHEN n_nationkey % 4 = 0 THEN ' distrito 01. Total. Renta neta media por persona.'
        |                  WHEN n_nationkey % 4 = 1 THEN ' sección 0101. Total. Renta neta media por persona.'
        |                  ELSE '. Total. Renta neta media por persona.' END AS Nombre,
        |   [{'Fecha': n_nationkey::BIGINT * 86400000,
        |     'Valor': CASE WHEN n_nationkey % 5 = 0 THEN NULL
        |                   ELSE (n_regionkey * 1000 + 15000)::DOUBLE END}] AS Data
        |  FROM nation),
        | municipios AS (SELECT n_nationkey::VARCHAR AS Codigo, upper(n_name) AS Nombre FROM nation),
        | relations AS (SELECT n_nationkey::VARCHAR AS municipio_ine,
        |   'DM' || n_nationkey AS distrito_mitma,
        |   NULL::VARCHAR AS municipio_mitma, NULL::VARCHAR AS gau_mitma FROM nation),
        | b_flat AS (SELECT e.COD,
        |   coalesce(nullif(trim(split_part(e.Nombre, '.', 1)), ''), e.Nombre) AS nombre,
        |   trim(split_part(e.Nombre, '.', 4)) AS tipo
        |  FROM empresas e, UNNEST(e.Data) AS t(item)
        |  WHERE e.Data IS NOT NULL AND len(e.Data) > 0),
        | b_cnt AS (SELECT count(DISTINCT f.COD)::BIGINT AS n
        |  FROM b_flat f LEFT JOIN municipios m ON lower(f.nombre) = lower(m.Nombre)
        |  LEFT JOIN relations r ON m.Codigo = r.municipio_ine
        |  WHERE lower(f.tipo) LIKE '%cnae%' AND
        |   (r.distrito_mitma IS NOT NULL OR r.municipio_mitma IS NOT NULL OR r.gau_mitma IS NOT NULL)),
        | p_flat AS (SELECT p.COD,
        |   coalesce(nullif(trim(split_part(p.Nombre, '.', 1)), ''), p.Nombre) AS nombre
        |  FROM poblacion p, UNNEST(p.Data) AS t(item)
        |  WHERE p.Data IS NOT NULL AND len(p.Data) > 0),
        | p_cnt AS (SELECT count(DISTINCT f.COD)::BIGINT AS n
        |  FROM p_flat f LEFT JOIN municipios m ON lower(f.nombre) = lower(m.Nombre)
        |  LEFT JOIN relations r ON m.Codigo = r.municipio_ine
        |  WHERE (r.distrito_mitma IS NOT NULL OR r.municipio_mitma IS NOT NULL OR r.gau_mitma IS NOT NULL)),
        | r_pre AS (SELECT * FROM renta
        |  WHERE NOT regexp_matches(lower(Nombre), '(sección|seccion)\s+\d+')
        |    AND NOT regexp_matches(lower(Nombre), 'distrito\s+\d+')),
        | r_flat AS (SELECT r.COD,
        |   trim(regexp_replace(split_part(r.Nombre, '.', 1),
        |        '\s+(distrito|sección|seccion)\s+\d+', '', 'gi')) AS nombre,
        |   CAST(item.Valor AS DOUBLE) AS valor
        |  FROM r_pre r, UNNEST(r.Data) AS t(item)
        |  WHERE r.Data IS NOT NULL AND len(r.Data) > 0),
        | r_cnt AS (SELECT count(DISTINCT f.COD)::BIGINT AS n
        |  FROM r_flat f LEFT JOIN municipios m ON lower(f.nombre) = lower(m.Nombre)
        |  LEFT JOIN relations rel ON m.Codigo = rel.municipio_ine
        |  WHERE f.valor IS NOT NULL AND
        |   (rel.distrito_mitma IS NOT NULL OR rel.municipio_mitma IS NOT NULL OR rel.gau_mitma IS NOT NULL)),
        | od_cnt AS (SELECT count(*)::BIGINT AS n FROM lineitem
        |  WHERE (CASE WHEN l_quantity < 25 THEN '0.5-2'
        |              WHEN l_returnflag = 'R' THEN NULL ELSE '2-10' END) IS NOT NULL),
        | on_cnt AS (SELECT (2 * count(*))::BIGINT AS n FROM lineitem
        |  WHERE l_orderkey % 12 = 0 AND l_linenumber != 7),
        | pd_cnt AS (SELECT count(*)::BIGINT AS n FROM lineitem WHERE l_orderkey % 12 = 0),
        | z_cnt AS (SELECT count(*)::BIGINT AS n FROM nation),
        | d_cnt AS (SELECT count(*)::BIGINT AS n
        |  FROM nation a JOIN nation b ON a.n_nationkey != b.n_nationkey),
        | h_cnt AS (SELECT count(*)::BIGINT AS n FROM nation WHERE n_nationkey % 3 != 0)
        |SELECT 'bronze_spanish_holidays' AS table_name, n AS n_rows FROM h_cnt
        |UNION ALL SELECT 'silver_business', n FROM b_cnt
        |UNION ALL SELECT 'silver_distances', n FROM d_cnt
        |UNION ALL SELECT 'silver_income', n FROM r_cnt
        |UNION ALL SELECT 'silver_od', n FROM od_cnt
        |UNION ALL SELECT 'silver_overnight_stay', n FROM on_cnt
        |UNION ALL SELECT 'silver_people_day', n FROM pd_cnt
        |UNION ALL SELECT 'silver_population', n FROM p_cnt
        |UNION ALL SELECT 'silver_zones', n FROM z_cnt""".stripMargin)
}
