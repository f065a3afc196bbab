package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{JsonFlattener, XDF}
import graft.functions.TimeFuncs
import graft.operators.{GraphOps, Multimodal}
import graft.sources.TsvIO

/**
 * Correctness-gate queries for the second parity wave: group_by_key,
 * explode_json, TSV I/O round-trip, lenient time parsing, graph
 * traversal, multimodal plumbing. Merged into SparkEntry.queries.
 */
object ParityQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ===== group_by_key: generic multi-col UDAF =====
    "q_group_by_key" -> ((s, dir) =>
      XDF(t(s, dir, "orders"))
        .groupByKey(Seq("o_orderpriority"), Seq("o_totalprice", "o_orderstatus"),
          rows => {
            val prices = rows.map(_("o_totalprice").toDouble)
            val statuses = rows.map(_("o_orderstatus")).distinct.sorted
            Map(
              "cnt" -> rows.length.toString,
              "span" -> (if (prices.isEmpty) "0.00"
                         else f"${prices.max - prices.min}%.2f"),
              "statuses" -> statuses.mkString(","))
          }, outPrefix = "stat")
        .sort(Seq("o_orderpriority")).toDF),

    // ===== explode_json: nested-map flatten =====
    "q_explode_json_flat" -> ((s, dir) => {
      val withJson = t(s, dir, "orders").select(col("o_orderkey"),
        to_json(struct(
          col("o_orderkey").as("id"),
          struct(col("o_orderpriority").as("prio"),
                 col("o_orderstatus").as("status")).as("meta"))).as("payload"))
      JsonFlattener.explodeJson(withJson, "payload", "j")
        .orderBy("o_orderkey")
    }),

    // ===== explode_json: array-of-structs fan-out =====
    "q_explode_json_array" -> ((s, dir) => {
      val items = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_list(struct(
          col("l_linenumber").as("ln"),
          col("l_quantity").as("qty")))).as("items"))
        .select(col("l_orderkey"), to_json(struct(col("items"))).as("payload"))
      // schema-first: the payload shape is known here, and passing it
      // skips inference — which would re-execute the full groupBy above
      // (measured ~2x on this query)
      val payloadSchema = StructType(Seq(StructField("items", ArrayType(
        StructType(Seq(StructField("ln", LongType),
          StructField("qty", DoubleType)))))))
      JsonFlattener.explodeJson(items, "payload", "j", schema = payloadSchema)
        .withColumn("j:items:qty", col("j:items:qty").cast(DoubleType))
        .orderBy(col("l_orderkey"), col("j:items:__explode_json_index__"))
    }),

    // ===== TSV round-trip (URL-encoded cells) =====
    "q_tsv_roundtrip" -> ((s, dir) => {
      val out = graft.core.TempDirs.scratch("graft_tsv")
      TsvIO.write(t(s, dir, "nation"), out)
      TsvIO.read(s, out).orderBy(col("n_nationkey").cast(LongType))
    }),

    // ===== lenient time parsing =====
    "q_time_parse" -> ((s, dir) => {
      val e = t(s, dir, "events")
      // two wire formats, parsed back by the lenient cascade
      val formatted = e.withColumn("ts_str",
        when(col("event_id") % 2 === 0,
          date_format(col("ts"), "MM/dd/yyyy HH:mm:ss"))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")))
      formatted
        .withColumn("epoch_sec", TimeFuncs.datetimeToUtcTimestampSec(col("ts_str")))
        .withColumn("rel", TimeFuncs.displayRelativeTime(col("epoch_sec") % 100000))
        .select("event_id", "epoch_sec", "rel")
        .orderBy("event_id")
    }),

    // ===== graph: BFS levels over a 3-level hierarchy =====
    "q_graph_bfs" -> ((s, dir) => {
      val rn = t(s, dir, "nation").select(
        concat(lit("r"), col("n_regionkey")).as("src"),
        concat(lit("n"), col("n_nationkey")).as("target"))
      val ns = t(s, dir, "supplier").select(
        concat(lit("n"), col("s_nationkey")).as("src"),
        concat(lit("s"), col("s_suppkey")).as("target"))
      val roots = t(s, dir, "region")
        .select(concat(lit("r"), col("r_regionkey")).as("node_id"))
      GraphOps.bfsLevels(rn.union(ns), roots).orderBy("node_id")
    }),

    // ===== graph: dangling-edge pruning (one iteration) =====
    "q_graph_dangling" -> ((s, dir) => {
      val co = t(s, dir, "orders").select(
        concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("o"), col("o_orderkey")).as("target"))
      val op = t(s, dir, "lineitem").select(
        concat(lit("o"), col("l_orderkey")).as("src"),
        concat(lit("p"), col("l_partkey")).as("target")).distinct()
      GraphOps.removeDanglingEdges(co.union(op), Nil, maxIter = 1)
        .orderBy("src", "target")
    }),

    // ===== graph: degrees =====
    "q_graph_degrees" -> ((s, dir) => {
      val edges = t(s, dir, "nation").select(
        concat(lit("r"), col("n_regionkey")).as("src"),
        concat(lit("n"), col("n_nationkey")).as("target"))
      GraphOps.degrees(edges).orderBy("node_id")
    }),

    // ===== graph: connected components over chain segments =====
    "q_graph_cc" -> ((s, dir) => {
      // chains of 4 consecutive order ranks (edge rank->rank+1 unless
      // rank % 4 == 0); zero-padded ids so lexicographic = numeric order.
      // XDF.globalOrdinal, not row_number().over(Window.orderBy(...)): the
      // window funnels any table through one task, while the ordinal
      // coalesces only an input that already runs as one small partition
      // (then the scan, sort, ordinal, edges and union-find run in one task)
      val rn = graft.core.XDF.globalOrdinal(
        t(s, dir, "orders").select(col("o_orderkey")), Seq(col("o_orderkey")), "rn")
      val edges = rn.filter(col("rn") % 4 =!= 0)
        .select(lpad(col("rn").cast(StringType), 10, "0").as("src"),
          lpad((col("rn") + 1).cast(StringType), 10, "0").as("target"))
      GraphOps.connectedComponents(edges).orderBy("node_id")
    }),

    // ===== date-partitioned write + pruned scan =====
    "q_etl_scan" -> ((s, dir) => {
      val base = graft.core.TempDirs.scratch("graft_etl")
      TsvIO.writePartitionedByDate(t(s, dir, "events"), "ts", base)
      XDF(TsvIO.scanByDateRange(s, base, "20240102", "20240103"))
        .aggregate(Seq("dt", "event_type"), Seq("value"), Seq("sum"))
        .transform("value:sum", round(col("value:sum"), 2))
        .sort(Seq("dt", "event_type")).toDF
    }),

    // ===== Welch t-test =====
    "q_ttest" -> ((s, dir) =>
      XDF(graft.functions.Stats.welchTTest(
          t(s, dir, "orders"), Seq("o_orderpriority"),
          "o_orderstatus", "F", "O", "o_totalprice"))
        .transform("mean_a", round(col("mean_a"), 4))
        .transform("mean_b", round(col("mean_b"), 4))
        .transform("t_stat", round(col("t_stat"), 6))
        .transform("df", round(col("df"), 4))
        .sort(Seq("o_orderpriority")).toDF),

    // ===== as-of join (point-in-time) =====
    "q_asof_join" -> ((s, dir) => {
      val events = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      // unique (key, ts) on the right: latest orderkey per customer+date
      val orders = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("last_orderkey"))
      graft.operators.AsofJoin.asofJoinBackward(
          events, orders, Seq("user_id"), "ts", "o_orderdate",
          Seq("last_orderkey"))
        .orderBy("event_id")
    }),

    // ===== portable sampling =====
    "q_sample_group_by_key" -> ((s, dir) =>
      XDF(graft.core.Sampling.sampleGroupByKeyPortable(
          t(s, dir, "orders"), Seq("o_custkey"), hexThreshold = "40"))
        .select("o_orderkey", "o_custkey").sort(Seq("o_orderkey")).toDF),

    "q_sample_class_cap" -> ((s, dir) =>
      XDF(graft.core.Sampling.sampleClassByMaxValuesPortable(
          t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
          "o_orderpriority", n = 10))
        .sort(Seq("o_orderpriority", "o_orderkey")).toDF),

    // ===== reference-compat murmur3-64 key hash (no SQL oracle — DuckDB
    // has no mmh3; bit-compat is asserted against vectors in Mmh3Spec) =====
    "q_keyhash_mmh3" -> ((s, dir) =>
      XDF(t(s, dir, "nation"))
        .generateKeyHash("key_hash", Seq("n_nationkey", "n_name"), compat = true)
        .select("n_nationkey", "key_hash").sort(Seq("n_nationkey")).toDF),

    // ===== sliding time windows =====
    "q_window_sliding" -> ((s, dir) =>
      XDF(graft.core.WindowOps.slidingTimeAggregate(t(s, dir, "events"),
          "ts", "2 hours", "1 hour", Seq("event_type"), Seq("value"), Seq("sum")))
        .transform("win", date_format(col("window_start"), "yyyy-MM-dd HH:mm"))
        .transform("value:sum", round(col("value:sum"), 2))
        .select("win", "event_type", "value:sum")
        .sort(Seq("win", "event_type")).toDF),

    // ===== SQL builder pushdown =====
    "q_sql_builder" -> ((s, dir) => {
      val sql = graft.sources.SqlHelper.buildQuery(
        columns = Seq("o_orderpriority", "count(*) AS n",
          "round(sum(o_totalprice), 2) AS total"),
        table = "orders",
        where = "o_orderstatus = 'F'",
        groupBy = Seq("o_orderpriority"),
        having = "count(*) > 0",
        orderBy = Seq("o_orderpriority"))
      graft.sources.SqlHelper.executeQuery(s,
        Map("orders" -> t(s, dir, "orders")), sql)
    }),

    // ===== arg_min / arg_max =====
    "q_arg_minmax" -> ((s, dir) =>
      XDF(t(s, dir, "orders"))
        .argMax(Seq("o_orderpriority"), "o_totalprice", Seq("o_orderkey"))
        .sort(Seq("o_orderpriority")).toDF),

    // ===== positional zip =====
    "q_concat_as_cols" -> ((s, dir) => {
      val asc = XDF(t(s, dir, "nation").select(col("n_nationkey"), col("n_name")))
      val desc = XDF(t(s, dir, "nation").select(
        col("n_nationkey").as("rev_key"), col("n_name").as("rev_name")))
      asc.concatAsCols(desc, Seq("n_nationkey"), Seq("-rev_key"))
        .sort(Seq("n_nationkey")).toDF
    }),

    // ===== N-in/M-out transform =====
    "q_transform_multi" -> ((s, dir) =>
      XDF(t(s, dir, "orders"))
        .transformFunc(Seq("o_orderpriority"), Seq("prio_code", "prio_word"),
          vals => {
            val parts = vals.head.split("-", 2)
            Seq(parts(0), if (parts.length > 1) parts(1) else "")
          })
        .select("o_orderkey", "prio_code", "prio_word")
        .sort(Seq("o_orderkey")).toDF),

    // ===== generic explode (declared-schema UDTF) =====
    "q_explode_generic" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      val src = t(s, dir, "region")
        .select(col("r_regionkey").cast(LongType), col("r_name"))
      val outSchema = StructType(Seq(
        StructField("r_regionkey", LongType),
        StructField("r_name", StringType),
        StructField("copy_idx", IntegerType)))
      graft.core.Reshape.explodeRows(src,
        r => (0 until 2).map(i => Row(r.getLong(0), r.getString(1), i)),
        outSchema).orderBy("r_regionkey", "copy_idx")
    }),

    // ===== to_json_records =====
    "q_to_json_records" -> ((s, dir) =>
      XDF(t(s, dir, "region").orderBy("r_regionkey"))
        .toJsonRecords("json").toDF),

    // ===== multimodal plumbing: non-image payloads take the byte-level
    // fallback (utf-8 text is not a decodable image) =====
    "q_multimodal_features" -> ((s, dir) => {
      val media = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
      val feats = Multimodal.extractFeatures(media, "doc_id", "payload")
      (0 until Multimodal.FeatureDim).foldLeft(feats) { (d, j) =>
        d.withColumn(s"f$j", round(element_at(col("features"), j + 1), 6))
      }.drop("features").orderBy("id")
    }),

    // ===== multimodal REAL decode: planted solid-color PNGs, decoded by
    // javax.imageio on executors; expected luminance is closed-form from
    // the id, so DuckDB can oracle the decode itself. lum*765 = r+g+b
    // exactly (featureround error ~4e-4 << 0.5), dodging float-rounding
    // ties between engines. =====
    "q_multimodal_decode" -> ((s, dir) => {
      val mkPng = udf { id: Long =>
        val rgb = (((id * 7) % 256).toInt << 16) |
          (((id * 11) % 256).toInt << 8) | ((id * 13) % 256).toInt
        val img = new java.awt.image.BufferedImage(8, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 8) { var x = 0; while (x < 8) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", baos)
        baos.toByteArray
      }
      val media = t(s, dir, "nation")
        .select(col("n_nationkey").cast(LongType).as("doc_id"),
          mkPng(col("n_nationkey").cast(LongType)).as("payload"))
      Multimodal.extractFeatures(media, "doc_id", "payload")
        .select(col("id"), col("width"), col("height"),
          round(element_at(col("features"), 1) * 765).cast(LongType).as("lum_first"),
          round(element_at(col("features"), Multimodal.FeatureDim) * 765)
            .cast(LongType).as("lum_last"))
        .orderBy("id")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q_group_by_key" ->
      """SELECT o_orderpriority,
                CAST(count(*) AS VARCHAR) AS "stat:cnt",
                printf('%.2f', max(o_totalprice) - min(o_totalprice)) AS "stat:span",
                string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
                  AS "stat:statuses"
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_explode_json_flat" ->
      """SELECT o_orderkey, CAST(o_orderkey AS VARCHAR) AS "j:id",
                o_orderpriority AS "j:meta:prio", o_orderstatus AS "j:meta:status"
         FROM orders ORDER BY o_orderkey""",

    "q_explode_json_array" ->
      """SELECT l_orderkey,
                CAST(count(*) OVER (PARTITION BY l_orderkey) AS INT)
                  AS "j:items:__explode_json_len__",
                CAST(row_number() OVER (PARTITION BY l_orderkey
                       ORDER BY l_linenumber, l_quantity) - 1
                  AS INT) AS "j:items:__explode_json_index__",
                CAST(l_linenumber AS VARCHAR) AS "j:items:ln",
                l_quantity AS "j:items:qty"
         FROM lineitem
         ORDER BY l_orderkey, "j:items:__explode_json_index__"""",

    "q_tsv_roundtrip" ->
      """SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey, n_name,
                CAST(n_regionkey AS VARCHAR) AS n_regionkey
         FROM nation ORDER BY n_nationkey::BIGINT""",

    "q_time_parse" ->
      """WITH b AS (SELECT event_id,
                      epoch(date_trunc('second', ts))::BIGINT AS epoch_sec
                    FROM events),
         d AS (SELECT event_id, epoch_sec,
                 (epoch_sec % 100000) // 86400 AS dd,
                 ((epoch_sec % 100000) % 86400) // 3600 AS hh,
                 ((epoch_sec % 100000) % 3600) // 60 AS mm
               FROM b)
         SELECT event_id, epoch_sec,
                CASE WHEN dd > 0 THEN dd::VARCHAR || 'd ' || hh::VARCHAR || 'h'
                     WHEN hh > 0 THEN hh::VARCHAR || 'h ' || mm::VARCHAR || 'm'
                     ELSE mm::VARCHAR || 'm' END AS rel
         FROM d ORDER BY event_id""",

    "q_graph_bfs" ->
      """SELECT node_id, level FROM (
           SELECT 'r' || r_regionkey AS node_id, 0 AS level FROM region
           UNION ALL
           SELECT 'n' || n_nationkey, 1 FROM nation
           UNION ALL
           SELECT 's' || s_suppkey, 2 FROM supplier)
         ORDER BY node_id""",

    "q_graph_dangling" ->
      """SELECT 'c' || o_custkey AS src, 'o' || o_orderkey AS target
         FROM orders
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)
         ORDER BY src, target""",

    "q_graph_degrees" ->
      """WITH e AS (SELECT 'r' || n_regionkey AS src, 'n' || n_nationkey AS target
                    FROM nation),
          o AS (SELECT src AS node_id, count(*) AS out_degree FROM e GROUP BY src),
          i AS (SELECT target AS node_id, count(*) AS in_degree FROM e GROUP BY target)
          SELECT coalesce(o.node_id, i.node_id) AS node_id,
                 coalesce(out_degree, 0) AS out_degree,
                 coalesce(in_degree, 0) AS in_degree
          FROM o FULL JOIN i ON o.node_id = i.node_id
          ORDER BY node_id""",

    "q_graph_cc" ->
      """WITH RECURSIVE rn AS (
           SELECT row_number() OVER (ORDER BY o_orderkey) AS rn FROM orders),
         edges AS (
           SELECT lpad(rn::VARCHAR, 10, '0') AS src,
                  lpad((rn + 1)::VARCHAR, 10, '0') AS target
           FROM rn WHERE rn % 4 <> 0),
         sym AS (SELECT src AS a, target AS b FROM edges
                 UNION SELECT target, src FROM edges),
         nodes AS (SELECT DISTINCT a AS id FROM sym),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a)
         SELECT id AS node_id, min(r) AS component
         FROM reach GROUP BY id ORDER BY node_id""",

    "q_etl_scan" ->
      """SELECT strftime(ts, '%Y%m%d') AS dt, event_type,
                round(sum(value), 2) AS "value:sum"
         FROM events
         WHERE strftime(ts, '%Y%m%d') BETWEEN '20240102' AND '20240103'
         GROUP BY 1, 2 ORDER BY dt, event_type""",

    "q_ttest" ->
      """WITH a AS (
           SELECT o_orderpriority,
                  count(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) AS n_a,
                  count(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) AS n_b,
                  avg(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) AS mean_a,
                  avg(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) AS mean_b,
                  coalesce(var_samp(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 0) AS var_a,
                  coalesce(var_samp(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 0) AS var_b
           FROM orders GROUP BY o_orderpriority)
         SELECT o_orderpriority, n_a, n_b,
                round(mean_a, 4) AS mean_a, round(mean_b, 4) AS mean_b,
                round((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 6) AS t_stat,
                round(pow(var_a / n_a + var_b / n_b, 2)
                  / (pow(var_a / n_a, 2) / (n_a - 1)
                     + pow(var_b / n_b, 2) / (n_b - 1)), 4) AS df
         FROM a ORDER BY o_orderpriority""",

    "q_asof_join" ->
      """WITH r AS (SELECT o_custkey AS user_id, o_orderdate,
                      max(o_orderkey) AS last_orderkey
                    FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, e.ts, r.last_orderkey
         FROM events e ASOF LEFT JOIN r
           ON e.user_id = r.user_id AND e.ts >= r.o_orderdate
         ORDER BY e.event_id""",

    // \x01-separated, \x00-null-sentineled key material mirrors
    // Sampling.portableKeyMaterial (coalesce keeps DuckDB's NULL-poisoning
    // concat from diverging on nullable keys)
    "q_sample_group_by_key" ->
      """SELECT o_orderkey, o_custkey FROM orders
         WHERE substr(md5(coalesce(o_custkey::VARCHAR, chr(0)) || chr(1) || '0'), 1, 2) < '40'
         ORDER BY o_orderkey""",

    "q_sample_class_cap" ->
      """SELECT o_orderkey, o_orderpriority FROM (
           SELECT o_orderkey, o_orderpriority,
                  row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY md5(coalesce(o_orderkey::VARCHAR, chr(0)) || chr(1) ||
                                 coalesce(o_orderpriority, chr(0)) || chr(1) || '0')) AS rn
           FROM orders)
         WHERE rn <= 10 ORDER BY o_orderpriority, o_orderkey""",

    "q_window_sliding" ->
      """WITH shifted AS (
           SELECT date_trunc('hour', ts) AS w, event_type, value FROM events
           UNION ALL
           SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS w, event_type, value
           FROM events)
         SELECT strftime(w, '%Y-%m-%d %H:%M') AS win, event_type,
                round(sum(value), 2) AS "value:sum"
         FROM shifted GROUP BY w, event_type ORDER BY win, event_type""",

    "q_sql_builder" ->
      """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
         FROM orders WHERE o_orderstatus = 'F'
         GROUP BY 1 HAVING count(*) > 0 ORDER BY o_orderpriority""",

    "q_arg_minmax" ->
      """SELECT o_orderpriority, o_orderkey AS "o_orderkey:arg_max",
                o_totalprice AS "o_totalprice:max"
         FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
               FROM orders)
         WHERE rn = 1 ORDER BY o_orderpriority""",

    "q_concat_as_cols" ->
      """WITH a AS (SELECT n_nationkey, n_name,
                      row_number() OVER (ORDER BY n_nationkey) AS rn FROM nation),
         b AS (SELECT n_nationkey AS rev_key, n_name AS rev_name,
                 row_number() OVER (ORDER BY n_nationkey DESC) AS rn FROM nation)
         SELECT n_nationkey, n_name, rev_key, rev_name
         FROM a JOIN b USING (rn) ORDER BY n_nationkey""",

    "q_transform_multi" ->
      """SELECT o_orderkey,
                string_split(o_orderpriority, '-')[1] AS prio_code,
                string_split(o_orderpriority, '-')[2] AS prio_word
         FROM orders ORDER BY o_orderkey""",

    "q_explode_generic" ->
      """SELECT r_regionkey, r_name, CAST(i.range AS INT) AS copy_idx
         FROM region CROSS JOIN range(0, 2) i
         ORDER BY r_regionkey, copy_idx""",

    "q_to_json_records" ->
      """SELECT to_json(struct_pack(r_regionkey := r_regionkey, r_name := r_name))
           AS json
         FROM region ORDER BY r_regionkey""",

    "q_multimodal_features" -> {
      val fCols = (0 until Multimodal.FeatureDim).map { j =>
        s"""round(coalesce(list_sum(list_transform(range(${j + 1}, strlen(text) + 1, ${Multimodal.FeatureDim}),
              i -> ascii(substr(text, i, 1)) / 255.0)), 0), 6) AS f$j"""
      }.mkString(",\n")
      s"""SELECT doc_id AS id, strlen(text)::INT AS byte_len,
                 ascii(substr(text, 1, 1)) AS first_byte,
                 md5(text) AS content_md5,
                 NULL::INTEGER AS width, NULL::INTEGER AS height,
                 $fCols
          FROM documents ORDER BY id"""
    },

    "q_multimodal_decode" ->
      """SELECT n_nationkey::BIGINT AS id, 8::INTEGER AS width, 8::INTEGER AS height,
                ((n_nationkey * 7) % 256 + (n_nationkey * 11) % 256
                 + (n_nationkey * 13) % 256)::BIGINT AS lum_first,
                ((n_nationkey * 7) % 256 + (n_nationkey * 11) % 256
                 + (n_nationkey * 13) % 256)::BIGINT AS lum_last
         FROM nation ORDER BY id""",
  )
}
