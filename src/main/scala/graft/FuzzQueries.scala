package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.XDF
import graft.sources.ParquetIO

/**
 * Property-based differential gates: randomly generated operator
 * pipelines (filters from the §2.3 family -> optional aggregate ->
 * deterministic sort) emitted simultaneously as an XDF chain and as the
 * equivalent DuckDB SQL. The generator is seeded, so the SAME pipelines
 * are produced in every JVM — they plug into the ordinary
 * Verify/check_oracle machinery as first-class gates rather than an
 * in-process fuzz loop, giving the differential harness coverage of
 * operator COMPOSITIONS no hand-written gate exercises.
 *
 * Literal pools come from the TPC-H column domains (stable at every
 * scale factor), so filters hit a mix of empty, narrow, and broad
 * selectivities. Double-typed aggregates round to 2 decimals on both
 * sides (the q_agg_basic convention) to absorb summation-order ulps.
 */
object FuzzQueries {

  private case class Col(name: String, kind: String) // int | float | str

  private case class Table(name: String, cols: Seq[Col],
                           strPool: Map[String, Seq[String]],
                           numPool: Map[String, Seq[Long]])

  private val tables = Seq(
    Table("orders",
      Seq(Col("o_orderkey", "int"), Col("o_custkey", "int"),
        Col("o_totalprice", "float"), Col("o_orderpriority", "str"),
        Col("o_orderstatus", "str")),
      strPool = Map(
        "o_orderpriority" -> Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"),
        "o_orderstatus" -> Seq("O", "F", "P")),
      numPool = Map(
        "o_orderkey" -> Seq(1000L, 30000L),
        "o_custkey" -> Seq(100L, 700L),
        "o_totalprice" -> Seq(50000L, 120000L, 200000L))),
    Table("lineitem",
      Seq(Col("l_orderkey", "int"), Col("l_linenumber", "int"),
        Col("l_quantity", "float"), Col("l_extendedprice", "float"),
        Col("l_returnflag", "str"), Col("l_linestatus", "str")),
      strPool = Map(
        "l_returnflag" -> Seq("A", "N", "R"),
        "l_linestatus" -> Seq("O", "F")),
      numPool = Map(
        "l_orderkey" -> Seq(5000L, 20000L),
        "l_linenumber" -> Seq(2L, 4L),
        "l_quantity" -> Seq(10L, 25L, 40L),
        "l_extendedprice" -> Seq(20000L, 50000L))),
    Table("customer",
      Seq(Col("c_custkey", "int"), Col("c_nationkey", "int"),
        Col("c_acctbal", "float"), Col("c_mktsegment", "str")),
      strPool = Map(
        "c_mktsegment" -> Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY")),
      numPool = Map(
        "c_custkey" -> Seq(200L, 900L),
        "c_nationkey" -> Seq(8L, 15L),
        "c_acctbal" -> Seq(0L, 2500L, 6000L))))

  /** One generated step: the XDF transform and its SQL WHERE clause. */
  private case class Filter(fn: XDF => XDF, sql: String)

  /** Columns whose value RANGE scales with the fixture's scale factor
    * (dense ids from 1): a pool threshold that is mid-range at sf0.1 can
    * exceed the whole domain at sf0.001/sf0.01. genFilter never emits a
    * lower bound on these. */
  private val sfScalingKeys =
    Set("o_orderkey", "o_custkey", "l_orderkey", "c_custkey",
      "event_id", "user_id")

  private def genFilter(rnd: scala.util.Random, t: Table,
                        banned: Set[String] = Set.empty): Filter = {
    def q(s: String) = s.replace("'", "''")
    // `banned` excludes columns whose value is determined by another
    // column of the same table (nation: one region per name), where a
    // drawn conjunction can be empty at EVERY scale factor — a vacuous
    // gate proves only that both engines return nothing. Same rule as
    // the range-join family's key/correlated-column ban.
    val cands = t.cols.filterNot(c => banned.contains(c.name))
    val c = cands(rnd.nextInt(cands.length))
    c.kind match {
      case "str" =>
        val pool = t.strPool(c.name)
        rnd.nextInt(4) match {
          case 0 =>
            val v = pool(rnd.nextInt(pool.length))
            Filter(_.eqStr(c.name, v), s"${c.name} = '${q(v)}'")
          case 1 =>
            val v = pool(rnd.nextInt(pool.length))
            Filter(_.notEqStr(c.name, v), s"${c.name} <> '${q(v)}'")
          case 2 =>
            val vs = rnd.shuffle(pool).take(1 + rnd.nextInt(2))
            Filter(_.valuesIn(c.name, vs),
              s"${c.name} IN (${vs.map(v => s"'${q(v)}'").mkString(", ")})")
          case _ =>
            val v = pool(rnd.nextInt(pool.length)).take(1)
            Filter(_.startswith(c.name, v), s"${c.name} LIKE '${q(v)}%'")
        }
      case "int" =>
        val pool = t.numPool(c.name)
        val v = pool(rnd.nextInt(pool.length))
        rnd.nextInt(3) match {
          // key-domain columns grow with the scale factor, so a fixed
          // LOWER bound from the pool can exceed the smallest fixture's
          // whole range and select nothing (q_fuzz_18: l_orderkey > 20000
          // was empty at sf0.001/sf0.01 — the oracle compared
          // empty-to-empty). An UPPER bound on a dense-from-1 key is
          // non-empty at every SF, so `gt` degrades to `le` there.
          case 0 if sfScalingKeys(c.name) =>
            Filter(_.leInt(c.name, v), s"${c.name} <= $v")
          case 0 => Filter(_.gtInt(c.name, v), s"${c.name} > $v")
          case 1 => Filter(_.leInt(c.name, v), s"${c.name} <= $v")
          case _ => Filter(_.notEqInt(c.name, v), s"${c.name} <> $v")
        }
      case _ => // float
        val pool = t.numPool(c.name)
        val v = pool(rnd.nextInt(pool.length))
        if (rnd.nextBoolean())
          Filter(_.gtFloat(c.name, v.toDouble), s"${c.name} > $v")
        else
          Filter(_.leFloat(c.name, v.toDouble), s"${c.name} <= $v")
    }
  }

  /** Deterministically generate `n` pipelines (seeded). */
  private val pipelines: Seq[(String, Table, Seq[Filter],
      Option[(Seq[String], Seq[(String, String)])])] = {
    val rnd = new scala.util.Random(424242L)
    (0 until 16).map { i =>
      val t = tables(rnd.nextInt(tables.length))
      val filters = Seq.fill(1 + rnd.nextInt(3))(genFilter(rnd, t))
      // half the pipelines aggregate: 1-2 string keys, 1-2 numeric aggs
      val agg =
        if (rnd.nextBoolean() && t.strPool.nonEmpty) {
          val keys = rnd.shuffle(t.strPool.keys.toSeq).take(1 + rnd.nextInt(2))
          val numCols = t.cols.filter(c => c.kind != "str").map(_.name)
          val funcs = Seq("sum", "count", "min", "max")
          val aggs = Seq.fill(1 + rnd.nextInt(2))(
            (numCols(rnd.nextInt(numCols.length)), funcs(rnd.nextInt(funcs.length))))
            .distinct
          Some((keys, aggs))
        } else None
      (f"q_fuzz_$i%02d", t, filters, agg)
    }
  }

  // ===== generated JOIN pipelines (q_fuzz_16..23) =====
  // The scalar fuzz above never crosses a table boundary; these compose
  // filter -> equi-join (differently-named FK -> PK keys, so the
  // rkey-copy mechanism is exercised) -> optional aggregate. Left joins
  // stay aggregate-free and sort on ALL left columns — non-null on both
  // engines (no NULLS FIRST/LAST divergence), and total in output terms:
  // the right side joins FK -> PK (at most one match), so every output
  // row is a function of its left row, and rows tying on every left
  // column are identical. (Left primary keys alone would NOT do: the
  // synthetic lineitem has duplicate (l_orderkey, l_linenumber) pairs.)
  // Aggregates run on inner joins where every group key is non-null.

  private val nationTable = Table("nation",
    Seq(Col("n_nationkey", "int"), Col("n_name", "str"),
      Col("n_regionkey", "int")),
    strPool = Map(
      "n_name" -> Seq("NATION_0", "NATION_3", "NATION_7", "NATION_12",
        "NATION_24")),
    numPool = Map(
      "n_nationkey" -> Seq(8L, 15L),
      "n_regionkey" -> Seq(1L, 3L)))

  /** (left table, right table, left key, right key). */
  private case class JoinPair(lt: Table, rt: Table, lk: String, rk: String)

  private val joinPairs = Seq(
    JoinPair(tables(0), tables(2), "o_custkey", "c_custkey"),
    JoinPair(tables(1), tables(0), "l_orderkey", "o_orderkey"),
    JoinPair(tables(2), nationTable, "c_nationkey", "n_nationkey"))

  private val joinPipelines: Seq[(String, JoinPair, Seq[Filter], Seq[Filter],
      String, Option[(Seq[String], Seq[(String, String)])])] = {
    val rnd = new scala.util.Random(626262L)
    (0 until 8).map { i =>
      val p = joinPairs(rnd.nextInt(joinPairs.length))
      val lFilters = Seq.fill(rnd.nextInt(3))(genFilter(rnd, p.lt))
      val rFilters = Seq.fill(rnd.nextInt(2))(genFilter(rnd, p.rt))
      val joinType = if (rnd.nextBoolean()) "inner" else "left"
      val agg =
        if (joinType == "inner" && rnd.nextBoolean()) {
          val keyPool = (p.lt.strPool.keys ++ p.rt.strPool.keys).toSeq.sorted
          val keys = rnd.shuffle(keyPool).take(1 + rnd.nextInt(2))
          val numCols = (p.lt.cols ++ p.rt.cols)
            .filter(_.kind != "str").map(_.name)
          val funcs = Seq("sum", "count", "min", "max")
          val aggs = Seq.fill(1 + rnd.nextInt(2))(
            (numCols(rnd.nextInt(numCols.length)), funcs(rnd.nextInt(funcs.length))))
            .distinct
          Some((keys, aggs))
        } else None
      (f"q_fuzz_${16 + i}%02d", p, lFilters, rFilters, joinType, agg)
    }
  }

  // ===== generated RESHAPE pipelines (q_fuzz_24..31) =====
  // The §2.8 family has the widest option surface and until round 9 only
  // example-based gates. These compose filter -> reshape -> optional
  // aggregate, cycling the op by index so every family is exercised:
  //   op 0: concat_ws -> split_str row fan-out (parts re-derived by
  //         DuckDB string_split + unnest);
  //   op 1: derived count -> replicate_rows (DuckDB range() join);
  //   op 2: to_json(struct) -> explode_json with a DECLARED schema
  //         (DuckDB re-derives the flattened columns from the source).
  // Sort totality: non-agg outputs sort on EVERY output column — fan-out
  // duplicates are bit-identical rows, so ties are harmless; aggregates
  // sort on their group keys. Separators come from a pool disjoint from
  // the TPC-H value alphabet ('-' and '_' appear in data; '|' '#' ';'
  // do not). Float columns are excluded from string round-trips so
  // engine float-formatting differences can't leak into the compare.

  private case class ReshapeCase(
      name: String, t: Table, filters: Seq[Filter], op: Int,
      id: Col, parts: Seq[Col], sep: String, cntSrc: Col, mod: Long,
      jsonA: Col, jsonB: Col, aggKey: Option[String])

  private val reshapeTables = tables :+ nationTable

  private val reshapePipelines: Seq[ReshapeCase] = {
    val rnd = new scala.util.Random(828282L)
    (0 until 8).map { i =>
      val t = reshapeTables(rnd.nextInt(reshapeTables.length))
      val filters = Seq.fill(rnd.nextInt(3))(genFilter(rnd, t))
      val nonFloat = t.cols.filter(_.kind != "float")
      val ints = t.cols.filter(_.kind == "int")
      val strs = t.cols.filter(_.kind == "str")
      val id = ints(rnd.nextInt(ints.length))
      val parts = rnd.shuffle(nonFloat).take(2 + rnd.nextInt(2))
      val sep = Seq("|", "#", ";")(rnd.nextInt(3))
      val cntSrc = ints(rnd.nextInt(ints.length))
      val mod = 2L + rnd.nextInt(3)
      val jsonA = ints(rnd.nextInt(ints.length))
      val jsonB = strs(rnd.nextInt(strs.length))
      val aggKey = if (i >= 6) Some(strs(rnd.nextInt(strs.length)).name) else None
      ReshapeCase(f"q_fuzz_${24 + i}%02d", t, filters, i % 3,
        id, parts, sep, cntSrc, mod, jsonA, jsonB, aggKey)
    }
  }

  private def reshapeQuery(c: ReshapeCase)(s: SparkSession, dir: String): DataFrame = {
    val base = filtersOn(s, dir, c.t, c.filters)
    c.op match {
      case 0 => // split_str
        val withS = base.toDF.select(col(c.id.name),
          concat_ws(c.sep, c.parts.map(p => col(p.name).cast("string")): _*).as("s"))
        val split = XDF(graft.core.Reshape.splitStr(withS, Seq("s"), c.sep, "p"))
          .select(c.id.name, "p:s")
        c.aggKey match {
          case Some(_) => // group on the id column (strs may not survive the projection)
            split.aggregate(Seq(c.id.name), Seq("p:s", "p:s"), Seq("count", "uniq_count"))
              .toDF.orderBy(col(c.id.name))
          case None =>
            split.toDF.orderBy(col(c.id.name), col("p:s"))
        }
      case 1 => // replicate_rows
        val withCnt = base.toDF.select(col(c.id.name),
          (col(c.cntSrc.name) % c.mod).cast("long").as("cnt"))
        val repl = XDF(graft.core.Reshape.replicateRows(withCnt, "cnt"))
        c.aggKey match {
          case Some(_) =>
            val agged = repl.aggregate(Seq(c.id.name), Seq("cnt", "cnt"), Seq("count", "sum"))
              .transform("cnt:sum", round(col("cnt:sum"), 2))
            agged.toDF.orderBy(col(c.id.name))
          case None =>
            repl.toDF.orderBy(col(c.id.name), col("cnt"))
        }
      case _ => // explode_json with declared schema
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val withJson = base.toDF.select(col(c.id.name),
          to_json(struct(col(c.jsonA.name).cast(LongType).as("a"),
            col(c.jsonB.name).cast("string").as("b"))).as("payload"))
        val flat = graft.core.JsonFlattener.explodeJson(withJson, "payload", "j",
          schema = StructType(Seq(StructField("a", LongType),
            StructField("b", StringType))))
        XDF(flat).select(c.id.name, "j:a", "j:b")
          .toDF.orderBy(col(c.id.name), col("j:a"), col("j:b"))
    }
  }

  private def filtersOn(s: SparkSession, dir: String, t: Table,
                        fs: Seq[Filter]): XDF =
    fs.foldLeft(XDF(ParquetIO.read(s, s"$dir/${t.name}.parquet")
      .select(t.cols.map(c => col(c.name)): _*)))((x, f) => f.fn(x))

  private def reshapeOracle(c: ReshapeCase): String = {
    val where =
      if (c.filters.isEmpty) "" else s" WHERE ${c.filters.map(_.sql).mkString(" AND ")}"
    val id = c.id.name
    c.op match {
      case 0 =>
        val concat = s"concat_ws('${c.sep}', ${c.parts.map(p => s"CAST(${p.name} AS VARCHAR)").mkString(", ")})"
        val fanout =
          s"""(SELECT $id, unnest(string_split(s, '${c.sep}')) AS "p:s"
               FROM (SELECT $id, $concat AS s FROM ${c.t.name}$where))"""
        c.aggKey match {
          case Some(_) =>
            s"""SELECT $id, CAST(count("p:s") AS BIGINT) AS "p:s:count",
                       CAST(count(DISTINCT "p:s") AS BIGINT) AS "p:s:uniq_count"
                FROM $fanout GROUP BY $id ORDER BY $id"""
          case None =>
            s"""SELECT * FROM $fanout ORDER BY $id, "p:s""""
        }
      case 1 =>
        val basis =
          s"""(SELECT $id, CAST(${c.cntSrc.name} % ${c.mod} AS BIGINT) AS cnt
               FROM ${c.t.name}$where)"""
        c.aggKey match {
          case Some(_) =>
            s"""SELECT $id, CAST(count(cnt) AS BIGINT) AS "cnt:count",
                       round(sum(CAST(cnt AS DOUBLE)), 2) AS "cnt:sum"
                FROM $basis b JOIN range(1, 100000) r ON r.range <= b.cnt
                GROUP BY $id ORDER BY $id"""
          case None =>
            s"""SELECT $id, cnt FROM $basis b
                JOIN range(1, 100000) r ON r.range <= b.cnt
                ORDER BY $id, cnt"""
        }
      case _ =>
        s"""SELECT $id, CAST(${c.jsonA.name} AS VARCHAR) AS "j:a",
                   ${c.jsonB.name} AS "j:b"
            FROM ${c.t.name}$where ORDER BY $id, "j:a", "j:b""""
    }
  }

  // ===== generated SAMPLING compositions (q_fuzz_32..35) =====
  // The §2.10 family's portable md5 hash gate is expressible identically
  // in DuckDB (seeded RNG is not), so sampling composes into the
  // differential harness: filter -> md5-gate sample on an int key ->
  // {aggregate | projection | filtered equi-join -> aggregate}. This
  // crosses §2.10 with §2.6 and §2.5, which no hand-written gate does.

  private case class SampleCase(
      name: String, single: Option[(Table, Seq[Filter])],
      join: Option[(JoinPair, Seq[Filter], Seq[Filter])],
      gateCol: String, thr: String, aggKey: Option[String],
      aggNum: Option[String])

  private val samplePipelines: Seq[SampleCase] = {
    val rnd = new scala.util.Random(929292L)
    (0 until 4).map { i =>
      if (i < 2) {
        val t = tables(rnd.nextInt(tables.length))
        val filters = Seq.fill(rnd.nextInt(3))(genFilter(rnd, t))
        val key = { val is = t.cols.filter(_.kind == "int"); is(rnd.nextInt(is.length)).name }
        val thr = Seq("20", "40", "80")(rnd.nextInt(3))
        val (aggKey, aggNum) =
          if (i == 0) {
            val ss = t.strPool.keys.toSeq.sorted
            val ns = t.cols.filter(_.kind != "str").map(_.name)
            (Some(ss(rnd.nextInt(ss.length))), Some(ns(rnd.nextInt(ns.length))))
          } else (None, None)
        SampleCase(f"q_fuzz_${32 + i}%02d", Some((t, filters)), None,
          key, thr, aggKey, aggNum)
      } else {
        val p = joinPairs(rnd.nextInt(joinPairs.length))
        val lf = Seq.fill(rnd.nextInt(2))(genFilter(rnd, p.lt))
        val rf = Seq.fill(rnd.nextInt(2))(genFilter(rnd, p.rt))
        val thr = Seq("20", "40", "80")(rnd.nextInt(3))
        val (aggKey, aggNum) =
          if (i == 2) {
            val ss = (p.lt.strPool.keys ++ p.rt.strPool.keys).toSeq.sorted
            val ns = (p.lt.cols ++ p.rt.cols).filter(_.kind != "str").map(_.name)
            (Some(ss(rnd.nextInt(ss.length))), Some(ns(rnd.nextInt(ns.length))))
          } else (None, None)
        SampleCase(f"q_fuzz_${32 + i}%02d", None, Some((p, lf, rf)),
          p.lk, thr, aggKey, aggNum)
      }
    }
  }

  private def sampleQuery(c: SampleCase)(s: SparkSession, dir: String): DataFrame = {
    def gate(x: XDF): XDF =
      x.where(substring(md5(col(c.gateCol).cast("string")), 1, 2) < c.thr)
    (c.single, c.join) match {
      case (Some((t, fs)), _) =>
        val sampled = gate(filtersOn(s, dir, t, fs))
        (c.aggKey, c.aggNum) match {
          case (Some(k), Some(n)) =>
            sampled.aggregate(Seq(k), Seq(n, n), Seq("count", "sum"))
              .transform(s"$n:sum", round(col(s"$n:sum"), 2))
              .toDF.orderBy(col(k))
          case _ =>
            sampled.toDF.orderBy(t.cols.map(cc => col(cc.name)): _*)
        }
      case (_, Some((p, lf, rf))) =>
        val l = gate(filtersOn(s, dir, p.lt, lf))
        val r = filtersOn(s, dir, p.rt, rf)
        val joined = l.innerJoin(r, Seq(p.lk), Seq(p.rk))
        (c.aggKey, c.aggNum) match {
          case (Some(k), Some(n)) =>
            joined.aggregate(Seq(k), Seq(n, n), Seq("count", "sum"))
              .transform(s"$n:sum", round(col(s"$n:sum"), 2))
              .toDF.orderBy(col(k))
          case _ =>
            // FK -> PK join: every output row is a function of its left
            // row, so sorting on all left columns is total (join-fuzz law)
            joined.toDF.orderBy(p.lt.cols.map(cc => col(cc.name)): _*)
        }
      case _ => throw new IllegalStateException("unreachable")
    }
  }

  private def sampleOracle(c: SampleCase): String = {
    val gateSql = s"substr(md5(CAST(${c.gateCol} AS VARCHAR)), 1, 2) < '${c.thr}'"
    def aggSel(k: String, n: String) =
      s"""SELECT $k, CAST(count($n) AS BIGINT) AS "$n:count",
                 round(sum(CAST($n AS DOUBLE)), 2) AS "$n:sum""""
    (c.single, c.join) match {
      case (Some((t, fs)), _) =>
        val conds = fs.map(_.sql) :+ gateSql
        val where = s" WHERE ${conds.mkString(" AND ")}"
        (c.aggKey, c.aggNum) match {
          case (Some(k), Some(n)) =>
            s"""${aggSel(k, n)} FROM ${t.name}$where GROUP BY $k ORDER BY $k"""
          case _ =>
            s"""SELECT ${t.cols.map(_.name).mkString(", ")} FROM ${t.name}$where
                ORDER BY ${t.cols.map(_.name).mkString(", ")}"""
        }
      case (_, Some((p, lf, rf))) =>
        val lConds = lf.map(_.sql) :+ gateSql
        val lCte = s"lf AS (SELECT ${p.lt.cols.map(_.name).mkString(", ")} " +
          s"FROM ${p.lt.name} WHERE ${lConds.mkString(" AND ")})"
        val rWhere = if (rf.isEmpty) "" else s" WHERE ${rf.map(_.sql).mkString(" AND ")}"
        val rCte = s"rf AS (SELECT ${p.rt.cols.map(_.name).mkString(", ")} " +
          s"FROM ${p.rt.name}$rWhere)"
        val from = s"FROM lf JOIN rf ON lf.${p.lk} = rf.${p.rk}"
        (c.aggKey, c.aggNum) match {
          case (Some(k), Some(n)) =>
            s"""WITH $lCte, $rCte ${aggSel(k, n)} $from GROUP BY $k ORDER BY $k"""
          case _ =>
            s"""WITH $lCte, $rCte SELECT lf.*, rf.* $from
                ORDER BY ${p.lt.cols.map(_.name).mkString(", ")}"""
        }
      case _ => throw new IllegalStateException("unreachable")
    }
  }

  // ===== generated WINDOW/CUMSUM/TOPK pipelines (q_fuzz_36..43) =====
  // The §2.9/§2.12 custom code paths — the distributed global prefix sum
  // (XDF.cumulativeSum with empty partitionCols) and the bounded-heap
  // top-k aggregate (BoundedTopKAgg) — had only hand-written gates until
  // round 9. These compose filter -> {per-entity cumsum | global
  // prefix-sum cumsum | heap top-k} against DuckDB window oracles.
  //
  // Determinism rules, chosen so the compare is exact rather than
  // tolerance-based:
  //  - cumsum summands are floor()ed to integer-valued DOUBLEs — integer
  //    double sums are exact up to 2^53, so the prefix sum's different
  //    association order (per-partition partials + offsets) is bit-equal
  //    to DuckDB's sequential window scan at every scale factor;
  //  - cumsum ordering columns are globally-unique ids (o_orderkey /
  //    c_custkey / n_nationkey), so the running order is total;
  //  - the per-entity case partitions on o_custkey (per-customer running
  //    totals — entity-bounded by contract, the q_cumulative_sum shape),
  //    never on a fixed-cardinality category that would concentrate a
  //    scale-up onto a few window tasks;
  //  - top-k keeps k <= 10 (heap path, no window); ties break on the
  //    full row struct exactly like the row_number fallback, mirrored in
  //    the oracle as ORDER BY sortCol, <every column ASC>. Outputs are
  //    verbatim input rows, so parquet doubles pass through bit-identical
  //    on both engines.

  private case class WindowCase(
      name: String, t: Table, filters: Seq[Filter], op: Int,
      partKey: String, idCol: String, vCol: String,
      k: Int, groupKey: String, sortCol: String, reverse: Boolean)

  /** Tables with a globally-unique integer id (cumsum ordering needs a
    * total order; lineitem has none). */
  private val uniqueIds = Map("orders" -> "o_orderkey",
    "customer" -> "c_custkey", "nation" -> "n_nationkey")

  private val windowPipelines: Seq[WindowCase] = {
    val rnd = new scala.util.Random(363636L)
    (0 until 8).map { i =>
      val op = i % 3
      val t = op match {
        case 0 => tables(0) // orders: o_custkey entity key + unique id
        case 1 => Seq(tables(0), tables(2), nationTable)(rnd.nextInt(3))
        case _ => reshapeTables(rnd.nextInt(reshapeTables.length))
      }
      // Two vacuity hazards, both found in round 9's artifacts: (a)
      // nation's n_name determines n_regionkey, so a name-equality +
      // region-range conjunction can be empty at every SF (q_fuzz_43:
      // NATION_3 AND n_regionkey > 3 selects nothing anywhere); (b) the
      // unique-id ordering column's RANGE scales with SF, so a fixed
      // threshold from the pool can be empty below some SF (q_fuzz_37:
      // o_orderkey > 30000 is empty at sf0.001/sf0.01). Ban both kinds
      // from this family's draws — the id is the ORDER BY column, and
      // filtering the running order's own key adds no coverage anyway.
      val banned = Set("n_name") ++ uniqueIds.get(t.name)
      val filters = Seq.fill(rnd.nextInt(3))(genFilter(rnd, t, banned))
      val idCol = uniqueIds.getOrElse(t.name, "")
      val nums = t.cols.filter(_.kind != "str").map(_.name)
      val vCol = nums(rnd.nextInt(nums.length))
      val strs = t.strPool.keys.toSeq.sorted
      val groupKey = strs(rnd.nextInt(strs.length))
      val sortCol = nums(rnd.nextInt(nums.length))
      WindowCase(f"q_fuzz_${36 + i}%02d", t, filters, op,
        partKey = "o_custkey", idCol = idCol, vCol = vCol,
        k = Seq(3, 5, 10)(rnd.nextInt(3)), groupKey = groupKey,
        sortCol = sortCol, reverse = rnd.nextBoolean())
    }
  }

  private def windowQuery(c: WindowCase)(s: SparkSession, dir: String): DataFrame = {
    val base = filtersOn(s, dir, c.t, c.filters)
    c.op match {
      case 0 => // per-entity running sum (window path)
        val prj = base.toDF.select(col(c.partKey), col(c.idCol),
          floor(col(c.vCol)).cast("double").as("v"))
        XDF(prj).cumulativeSum("v", "cum", Seq(c.idCol), Seq(c.partKey))
          .transform("cum", round(col("cum"), 2))
          .toDF.orderBy(col(c.partKey), col(c.idCol))
      case 1 => // GLOBAL running sum (distributed prefix-sum path)
        val prj = base.toDF.select(col(c.idCol),
          floor(col(c.vCol)).cast("double").as("v"))
        XDF(prj).cumulativeSum("v", "cum", Seq(c.idCol), Nil)
          .transform("cum", round(col("cum"), 2))
          .toDF.orderBy(col(c.idCol))
      case _ => // bounded-heap top-k per group
        base.sampleGroupByTopk(Seq(c.groupKey), c.sortCol, c.k, c.reverse)
          .toDF.orderBy(c.t.cols.map(cc => col(cc.name)): _*)
    }
  }

  private def windowOracle(c: WindowCase): String = {
    val where =
      if (c.filters.isEmpty) "" else s" WHERE ${c.filters.map(_.sql).mkString(" AND ")}"
    c.op match {
      case 0 =>
        s"""SELECT ${c.partKey}, ${c.idCol}, v,
                   round(sum(v) OVER (PARTITION BY ${c.partKey} ORDER BY ${c.idCol}
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum
            FROM (SELECT ${c.partKey}, ${c.idCol},
                    CAST(floor(${c.vCol}) AS DOUBLE) AS v FROM ${c.t.name}$where) b
            ORDER BY ${c.partKey}, ${c.idCol}"""
      case 1 =>
        s"""SELECT ${c.idCol}, v,
                   round(sum(v) OVER (ORDER BY ${c.idCol}
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum
            FROM (SELECT ${c.idCol},
                    CAST(floor(${c.vCol}) AS DOUBLE) AS v FROM ${c.t.name}$where) b
            ORDER BY ${c.idCol}"""
      case _ =>
        val allCols = c.t.cols.map(_.name)
        val dir = if (c.reverse) "DESC" else "ASC"
        val tieBreak = allCols.map(n => s"$n ASC").mkString(", ")
        s"""SELECT ${allCols.mkString(", ")} FROM (
              SELECT *, row_number() OVER (PARTITION BY ${c.groupKey}
                ORDER BY ${c.sortCol} $dir, $tieBreak) AS rn
              FROM ${c.t.name}$where) b
            WHERE rn <= ${c.k} ORDER BY ${allCols.mkString(", ")}"""
    }
  }

  // ===== generated SET-OP pipelines (q_fuzz_44..47) =====
  // §2.7 closes the fuzz matrix: two differently-filtered views of the
  // same table flow through {exact-header union | schema-evolving
  // merge_union | intersect | difference}. merge_union drops one column
  // from each side, so the union-of-columns + "" default path (the
  // reference's dfutils semantics) is exercised: filled columns come
  // back string-typed on BOTH engines (coalesce(cast) on ours, CAST ||
  // '' literal in the oracle), and only non-float columns participate so
  // string round-trips stay format-safe. union duplicates are identical
  // rows; intersect/except outputs are distinct — sorts stay total.

  private case class SetOpCase(name: String, t: Table, op: Int,
                               fA: Seq[Filter], fB: Seq[Filter])

  private val setOpPipelines: Seq[SetOpCase] = {
    val rnd = new scala.util.Random(474747L)
    (0 until 4).map { i =>
      val t = reshapeTables(rnd.nextInt(reshapeTables.length))
      SetOpCase(f"q_fuzz_${44 + i}%02d", t, i,
        Seq(genFilter(rnd, t)), Seq(genFilter(rnd, t)))
    }
  }

  private def setOpQuery(c: SetOpCase)(s: SparkSession, dir: String): DataFrame = {
    val nf = c.t.cols.filter(_.kind != "float").map(_.name)
    c.op match {
      case 1 => // merge_union over asymmetric projections
        val a = filtersOn(s, dir, c.t, c.fA).select(nf.init: _*)
        val b = filtersOn(s, dir, c.t, c.fB).select(nf.tail: _*)
        val merged = a.mergeUnion(Seq(b),
          defValMap = Map(nf.head -> "", nf.last -> ""))
        merged.toDF.orderBy(merged.getHeader.map(col): _*)
      case _ =>
        val a = filtersOn(s, dir, c.t, c.fA)
        val b = filtersOn(s, dir, c.t, c.fB)
        val out = c.op match {
          case 0 => a.union(b)
          case 2 => a.intersectRows(b)
          case _ => a.difference(b)
        }
        out.toDF.orderBy(c.t.cols.map(cc => col(cc.name)): _*)
    }
  }

  private def setOpOracle(c: SetOpCase): String = {
    def where(fs: Seq[Filter]) =
      if (fs.isEmpty) "" else s" WHERE ${fs.map(_.sql).mkString(" AND ")}"
    val all = c.t.cols.map(_.name)
    val nf = c.t.cols.filter(_.kind != "float").map(_.name)
    c.op match {
      case 1 =>
        // side A carries nf.init (misses nf.last); side B carries
        // nf.tail (misses nf.head); filled cols are VARCHAR everywhere
        def side(present: Seq[String], fs: Seq[Filter]) = {
          val exprs = nf.map { n =>
            if (!present.contains(n)) s"'' AS $n"
            else if (n == nf.head || n == nf.last) s"CAST($n AS VARCHAR) AS $n"
            else n
          }
          s"SELECT ${exprs.mkString(", ")} FROM ${c.t.name}${where(fs)}"
        }
        s"""${side(nf.init, c.fA)} UNION ALL ${side(nf.tail, c.fB)}
            ORDER BY ${nf.mkString(", ")}"""
      case op =>
        val kw = op match {
          case 0 => "UNION ALL"
          case 2 => "INTERSECT"
          case _ => "EXCEPT"
        }
        s"""SELECT ${all.mkString(", ")} FROM ${c.t.name}${where(c.fA)}
            $kw
            SELECT ${all.mkString(", ")} FROM ${c.t.name}${where(c.fB)}
            ORDER BY ${all.mkString(", ")}"""
    }
  }

  // ===== generated TEXT-ANALYSIS pipelines (q_fuzz_48..51) =====
  // The text analyzers (whitespace + BPE-ish tokenizers, mean token
  // length) composed with seeded document-metadata filters and an
  // optional per-language aggregate — the same oracle tokenizer
  // fragments as the hand-written q_text_* gates, but over filter
  // combinations those example-based gates never exercise. Sums are
  // integer-exact, so the avg is bit-stable on both engines.

  private val documentsTable = Table("documents",
    Seq(Col("doc_id", "int"), Col("n_chars", "int"),
      Col("lang", "str"), Col("source", "str")),
    strPool = Map(
      "lang" -> Seq("de", "en", "es", "fr", "zh"),
      "source" -> Seq("src0", "src3", "src7", "src12", "src19")),
    numPool = Map(
      "doc_id" -> Seq(100L, 300L),
      "n_chars" -> Seq(150L, 250L, 350L)))

  private case class TextCase(name: String, fs: Seq[Filter], agg: Boolean)

  private val textPipelines: Seq[TextCase] = {
    val rnd = new scala.util.Random(484848L)
    (0 until 4).map { i =>
      TextCase(f"q_fuzz_${48 + i}%02d",
        Seq.fill(1 + rnd.nextInt(2))(genFilter(rnd, documentsTable)),
        agg = i % 2 == 1)
    }
  }

  private def textQuery(c: TextCase)(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextOps
    val base = XDF(ParquetIO.read(s, s"$dir/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars"))
    val m = c.fs.foldLeft(base)((x, f) => f.fn(x)).toDF
      .withColumn("n_tok", TextOps.tokenCount(col("text")))
    if (c.agg)
      m.groupBy("lang").agg(count(lit(1)).as("n"),
          sum(col("n_tok")).as("sum_tok"),
          round(avg(col("n_tok")), 2).as("avg_tok"))
        .orderBy("lang")
    else
      m.withColumn("n_bpe", TextOps.bpeishTokenCount(col("text")))
        .withColumn("mean_tok_len", round(TextOps.meanTokenLength(col("text")), 4))
        .select("doc_id", "n_tok", "n_bpe", "mean_tok_len")
        .orderBy("doc_id")
  }

  private def textOracle(c: TextCase): String = {
    val where = s" WHERE ${c.fs.map(_.sql).mkString(" AND ")}"
    val toks = "regexp_split_to_array(text, '\\s+')"
    if (c.agg)
      s"""WITH t AS (SELECT lang, len($toks) AS n_tok FROM documents$where)
          SELECT lang, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(n_tok) AS BIGINT) AS sum_tok,
                 round(avg(n_tok), 2) AS avg_tok
          FROM t GROUP BY lang ORDER BY lang"""
    else
      s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents$where)
          SELECT doc_id, len(toks) AS n_tok,
                 len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                   AS n_bpe,
                 round(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                   / len(toks), 4) AS mean_tok_len
          FROM t ORDER BY doc_id"""
  }

  // ===== generated GRAPH pipelines (q_fuzz_52..55) =====
  // §2.11 compositions: seeded filters shape a customer->order->part
  // edge set, which then flows through degrees, one-iteration dangling
  // pruning (with and without a retention list), and BFS levels. The
  // oracles are non-recursive — one prune iteration is a semi-join, and
  // the c->o->p graph is a 3-layer DAG whose BFS levels are structural.

  private case class GraphCase(name: String, kind: Int,
                               fo: Seq[Filter], fl: Seq[Filter])

  private val graphPipelines: Seq[GraphCase] = {
    val rnd = new scala.util.Random(525252L)
    val orders = tables.find(_.name == "orders").get
    val lineitem = tables.find(_.name == "lineitem").get
    (0 until 4).map { i =>
      GraphCase(f"q_fuzz_${52 + i}%02d", i,
        Seq(genFilter(rnd, orders)), Seq(genFilter(rnd, lineitem)))
    }
  }

  private def graphQuery(c: GraphCase)(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GraphOps
    val ordersCols = tables.find(_.name == "orders").get.cols.map(_.name)
    val liCols = tables.find(_.name == "lineitem").get.cols.map(_.name)
    val co = c.fo.foldLeft(XDF(ParquetIO.read(s, s"$dir/orders.parquet")
        .select(ordersCols.map(col): _*)))((a, f) => f.fn(a))
      .toDF.select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("o"), col("o_orderkey")).as("target"))
    val op = c.fl.foldLeft(XDF(ParquetIO.read(s, s"$dir/lineitem.parquet")
        .select((liCols :+ "l_partkey").map(col): _*)))((a, f) => f.fn(a))
      .toDF.select(concat(lit("o"), col("l_orderkey")).as("src"),
        concat(lit("p"), col("l_partkey")).as("target")).distinct()
    c.kind match {
      case 0 => GraphOps.degrees(co).orderBy("node_id")
      case 1 => GraphOps.removeDanglingEdges(co.union(op), Nil, maxIter = 1)
        .orderBy("src", "target")
      case 2 => GraphOps.removeDanglingEdges(co.union(op), Seq("p1", "p2"),
        maxIter = 1).orderBy("src", "target")
      case _ =>
        val roots = co.select(col("src").as("node_id")).distinct()
        GraphOps.bfsLevels(co.union(op), roots).orderBy("node_id")
    }
  }

  private def graphOracle(c: GraphCase): String = {
    def w(fs: Seq[Filter]) = s" WHERE ${fs.map(_.sql).mkString(" AND ")}"
    val co = s"SELECT 'c' || o_custkey AS src, 'o' || o_orderkey AS target " +
      s"FROM orders${w(c.fo)}"
    val op = s"SELECT DISTINCT 'o' || l_orderkey AS src, " +
      s"'p' || l_partkey AS target FROM lineitem${w(c.fl)}"
    c.kind match {
      case 0 =>
        s"""WITH e AS ($co),
            o AS (SELECT src AS node_id, CAST(count(*) AS BIGINT) AS out_degree
                  FROM e GROUP BY src),
            i AS (SELECT target AS node_id, CAST(count(*) AS BIGINT) AS in_degree
                  FROM e GROUP BY target)
            SELECT coalesce(o.node_id, i.node_id) AS node_id,
                   coalesce(out_degree, 0) AS out_degree,
                   coalesce(in_degree, 0) AS in_degree
            FROM o FULL JOIN i ON o.node_id = i.node_id ORDER BY node_id"""
      case 1 | 2 =>
        val retain = if (c.kind == 2) " OR target IN ('p1', 'p2')" else ""
        s"""WITH e AS ($co UNION ALL $op)
            SELECT src, target FROM e
            WHERE target IN (SELECT src FROM e)$retain
            ORDER BY src, target"""
      case _ =>
        s"""WITH co AS ($co), op AS ($op)
            SELECT node_id, level FROM (
              SELECT DISTINCT src AS node_id, 0 AS level FROM co
              UNION SELECT DISTINCT target, 1 FROM co
              UNION SELECT DISTINCT op.target, 2 FROM op
                    WHERE op.src IN (SELECT target FROM co))
            ORDER BY node_id"""
    }
  }

  // ===== generated DEDUP pipelines (q_fuzz_56..59) =====
  // The LLM-pipeline dedup family composed with seeded document-metadata
  // filters: exact dedup over a planted-duplicate corpus, contamination
  // report / decontaminate with seeded n-gram size, eval-set modulus and
  // min-match threshold, and pairwise n-gram Jaccard over a seeded id
  // range with a seeded similarity cut. Oracles are deliberately
  // NON-recursive (no CC closure), so the family runs through the plain
  // DuckDB compare at every SF including the sf1 sweep. Jaccard
  // thresholds come from an exactly-representable binary pool so the
  // strict `>` cut can never straddle an ulp between engines.

  private case class DedupCase(name: String, kind: Int, fs: Seq[Filter],
                               n: Int, m: Int, mm: Int, bound: Int,
                               thr: Double) {
    // per-kind effective params keep every case NON-TRIVIAL on the
    // fixture (first cut: the decontaminate case drew bigrams, which
    // contaminate every document -> 0 survivors at every SF, and the
    // Jaccard case's trigram cut exceeded any real pair's similarity ->
    // empty output; an always-empty gate only proves empty == empty).
    // Decontaminate shifts to 4..6-grams (collisions rare -> a real
    // survivor/dropped split); the pair study fixes bigrams + cut 0 (all
    // overlapping pairs surface with their exact jaccard VALUES, which is
    // what the compare pins).
    def effN: Int = kind match {
      case 2 => n + 2
      case 3 => 2
      case _ => n
    }
    def effThr: Double = if (kind == 3) 0.0 else thr
  }

  private val dedupPipelines: Seq[DedupCase] = {
    val rnd = new scala.util.Random(565656L)
    (0 until 4).map { i =>
      DedupCase(f"q_fuzz_${56 + i}%02d", i,
        Seq.fill(1 + rnd.nextInt(2))(genFilter(rnd, documentsTable)),
        n = 2 + rnd.nextInt(3),
        m = Seq(23, 31, 41)(rnd.nextInt(3)),
        mm = 1 + rnd.nextInt(2),
        bound = 15 + rnd.nextInt(16),
        thr = Seq(0.0, 0.0625, 0.125)(rnd.nextInt(3)))
    }
  }

  private def dedupDocs(s: SparkSession, dir: String, fs: Seq[Filter]): DataFrame =
    fs.foldLeft(XDF(ParquetIO.read(s, s"$dir/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")))((x, f) => f.fn(x)).toDF

  private def dedupQuery(c: DedupCase)(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val f = dedupDocs(s, dir, c.fs)
    // fixed-size eval benchmark (ids < 500 exist at every SF): a
    // corpus-scaling eval set saturates n-gram coverage at 10x and
    // empties the decontaminate cases (empty-vs-empty compare)
    def evalDocs = ParquetIO.read(s, s"$dir/documents.parquet")
      .filter(col("doc_id") % c.m === 0 && col("doc_id") < 500)
    c.kind match {
      case 0 =>
        val dupped = f.union(f.withColumn("doc_id", col("doc_id") + 1000000))
        Dedup.exact(dupped, "text", "doc_id")
          .select("doc_id", "lang", "n_chars").orderBy("doc_id")
      case 1 =>
        Dedup.contaminationReport(f, "doc_id", "text", evalDocs, "text", n = c.n)
          .orderBy("doc_id")
      case 2 =>
        Dedup.decontaminate(f, "doc_id", "text", evalDocs, "text",
            n = c.effN, minMatches = c.mm)
          .select("doc_id", "lang").orderBy("doc_id")
      case _ =>
        // bounded-id pair study: the crossJoin is a broadcast demo over a
        // seeded handful of docs (the scale path is LSH, gated elsewhere)
        val p = f.filter(col("doc_id") < c.bound)
        val a = p.select(col("doc_id").as("id_a"), col("text").as("text_a"))
        val b = p.select(col("doc_id").as("id_b"), col("text").as("text_b"))
        a.crossJoin(broadcast(b)).filter(col("id_a") < col("id_b"))
          .withColumn("jc", Dedup.ngramJaccard(col("text_a"), col("text_b"), c.effN))
          .filter(col("jc") > c.effThr)
          .select(col("id_a"), col("id_b"), round(col("jc"), 6).as("jaccard"))
          .orderBy("id_a", "id_b")
    }
  }

  private def dedupOracle(c: DedupCase): String = {
    import TrainingQueries.{toksSql, shinglesSql}
    val where = s" WHERE ${c.fs.map(_.sql).mkString(" AND ")}"
    // corpus-side (filtered) and eval-side (modulus) distinct shingle CTEs
    def gramCtes(n: Int) = s"""ct AS (SELECT doc_id, $toksSql AS toks FROM documents$where),
        csh AS (SELECT doc_id, list_distinct(${shinglesSql(n)}) AS s FROM ct),
        et AS (SELECT doc_id, $toksSql AS toks FROM documents
               WHERE doc_id % ${c.m} = 0 AND doc_id < 500),
        esh AS (SELECT doc_id, list_distinct(${shinglesSql(n)}) AS s FROM et),
        ev AS (SELECT DISTINCT unnest(s) AS g FROM esh),
        dg AS (SELECT doc_id, unnest(s) AS g FROM csh)"""
    c.kind match {
      case 0 =>
        s"""WITH f AS (SELECT doc_id, text, lang, n_chars FROM documents$where),
            dupped AS (SELECT * FROM f
                       UNION ALL
                       SELECT doc_id + 1000000, text, lang, n_chars FROM f)
            SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
                   arg_min(n_chars, doc_id) AS n_chars
            FROM dupped GROUP BY text ORDER BY doc_id"""
      case 1 =>
        s"""WITH ${gramCtes(c.n)}
            SELECT dg.doc_id, count(*) AS eval_ngram_hits
            FROM dg JOIN ev ON dg.g = ev.g
            GROUP BY dg.doc_id ORDER BY doc_id"""
      case 2 =>
        s"""WITH ${gramCtes(c.effN)},
            bad AS (SELECT dg.doc_id FROM dg JOIN ev ON dg.g = ev.g
                    GROUP BY dg.doc_id HAVING count(*) >= ${c.mm})
            SELECT d.doc_id, d.lang FROM documents d
            $where AND d.doc_id NOT IN (SELECT doc_id FROM bad)
            ORDER BY doc_id"""
      case _ =>
        s"""WITH p AS (SELECT doc_id, text FROM documents
                       $where AND doc_id < ${c.bound}),
            t AS (SELECT doc_id, $toksSql AS toks FROM p),
            sh AS (SELECT doc_id, list_distinct(${shinglesSql(c.effN)}) AS s FROM t),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.s, b.s))::DOUBLE
                       / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jc
              FROM sh a, sh b WHERE a.doc_id < b.doc_id)
            SELECT id_a, id_b, round(jc, 6) AS jaccard FROM pairs
            WHERE jc > ${c.effThr}
            ORDER BY id_a, id_b"""
    }
  }

  // ===== generated AS-OF JOIN pipelines (q_fuzz_60..63) =====
  // The point-in-time join (§2.5 beyond-parity) composed with seeded
  // filters on BOTH sides — the only join flavor the fuzz harness did
  // not cover. Left = events with a DERIVED date (1992-01-01 +
  // event_id % modDays) so left timestamps genuinely interleave with
  // o_orderdate instead of all landing after it; right = seeded-filtered
  // orders pre-aggregated to unique (user, date) per the merge_asof
  // contract. DuckDB's native ASOF LEFT JOIN is the oracle. The events
  // scan selects only (event_id, user_id, event_type, value) — the
  // dual-encoded ts column is never read, so no loader normalization is
  // involved.

  private val eventsTable = Table("events",
    Seq(Col("event_id", "int"), Col("user_id", "int"),
      Col("event_type", "str"), Col("value", "float")),
    strPool = Map(
      "event_type" -> Seq("click", "purchase", "error", "signup", "view")),
    numPool = Map(
      "event_id" -> Seq(500L, 5000L),
      "user_id" -> Seq(20L, 80L),
      "value" -> Seq(50L, 150L, 300L)))

  private case class AsofCase(name: String, fe: Seq[Filter], fo: Seq[Filter],
                              agg: Boolean, modDays: Int)

  private val asofPipelines: Seq[AsofCase] = {
    val rnd = new scala.util.Random(606060L)
    val orders = tables.find(_.name == "orders").get
    (0 until 4).map { i =>
      // ONE event-side filter: a two-filter conjunction on this narrow
      // table too often drew contradictions (e.g. event_id > 5000 AND
      // event_id <= 500), leaving an empty left side at every SF
      AsofCase(f"q_fuzz_${60 + i}%02d",
        Seq(genFilter(rnd, eventsTable)),
        Seq(genFilter(rnd, orders)),
        agg = i % 2 == 1,
        modDays = Seq(1200, 2400)(rnd.nextInt(2)))
    }
  }

  private def asofQuery(c: AsofCase)(s: SparkSession, dir: String): DataFrame = {
    val left = c.fe.foldLeft(XDF(ParquetIO.read(s, s"$dir/events.parquet")
        .select("event_id", "user_id", "event_type", "value")))((x, f) => f.fn(x))
      .toDF
      .withColumn("dts", date_add(to_date(lit("1992-01-01")),
        (col("event_id") % c.modDays).cast("int")))
    val orders = tables.find(_.name == "orders").get
    // filtersOn prunes to the fuzz table's declared columns, which would
    // drop o_orderdate — widen the scan by hand
    val oBase = XDF(ParquetIO.read(s, s"$dir/orders.parquet")
      .select((orders.cols.map(_.name) :+ "o_orderdate").map(col): _*))
    val right = c.fo.foldLeft(oBase)((x, f) => f.fn(x)).toDF
      .select(col("o_custkey").as("user_id"),
        to_date(col("o_orderdate")).as("odt"), col("o_orderkey"))
      .groupBy("user_id", "odt").agg(max("o_orderkey").as("last_orderkey"))
    val joined = graft.operators.AsofJoin.asofJoinBackward(
      left, right, Seq("user_id"), "dts", "odt", Seq("last_orderkey"))
    if (c.agg)
      joined.groupBy("event_type").agg(count(lit(1)).as("n"),
          count(col("last_orderkey")).as("n_matched"),
          min("last_orderkey").as("min_lok"), max("last_orderkey").as("max_lok"))
        .orderBy("event_type")
    else
      joined.select("event_id", "user_id", "event_type", "last_orderkey")
        .orderBy("event_id")
  }

  private def asofOracle(c: AsofCase): String = {
    def w(fs: Seq[Filter]) = s" WHERE ${fs.map(_.sql).mkString(" AND ")}"
    val base = s"""l AS (SELECT event_id, user_id, event_type,
             DATE '1992-01-01' + ((event_id % ${c.modDays})::INT) AS dts
           FROM events${w(c.fe)}),
          r AS (SELECT o_custkey AS user_id, o_orderdate::DATE AS odt,
             max(o_orderkey) AS last_orderkey
           FROM orders${w(c.fo)} GROUP BY 1, 2),
          j AS (SELECT l.event_id, l.user_id, l.event_type, r.last_orderkey
                FROM l ASOF LEFT JOIN r
                  ON l.user_id = r.user_id AND l.dts >= r.odt)"""
    if (c.agg)
      s"""WITH $base
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(count(last_orderkey) AS BIGINT) AS n_matched,
                 min(last_orderkey) AS min_lok, max(last_orderkey) AS max_lok
          FROM j GROUP BY event_type ORDER BY event_type"""
    else
      s"""WITH $base
          SELECT event_id, user_id, event_type, last_orderkey FROM j
          ORDER BY event_id"""
  }

  // ===== generated SESSIONIZE pipelines (q_fuzz_64..67) =====
  // Gap-based sessionization (§2.13's batch twin) under seeded event
  // filters and seeded gap widths, against the DuckDB gaps-and-islands
  // oracle; half the cases roll sessions up per key. `value` quantizes
  // to cents (the q_sessionize_batch convention) so session sums are
  // integer-valued doubles — order-exact on both engines. Events load
  // through Tables (the ts column's dual physical encoding) and ties at
  // identical ts_ms are harmless: a tie's lag-diff is 0, so its break
  // flag is 0 under any tie order, and session aggregates are
  // order-free.

  private case class SessCase(name: String, fe: Seq[Filter], gapMs: Long,
                              agg: Boolean)

  private val sessPipelines: Seq[SessCase] = {
    val rnd = new scala.util.Random(646464L)
    (0 until 4).map { i =>
      SessCase(f"q_fuzz_${64 + i}%02d",
        Seq.fill(1 + rnd.nextInt(2))(genFilter(rnd, eventsTable)),
        gapMs = Seq(600000L, 3600000L, 40000000L)(rnd.nextInt(3)),
        agg = i % 2 == 1)
    }
  }

  private def sessQuery(c: SessCase)(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "events")
      .select("event_id", "user_id", "event_type", "value", "ts")
    val filtered = c.fe.foldLeft(XDF(base))((x, f) => f.fn(x)).toDF
      .select(col("user_id"), Tables.tsMillis("ts").as("ts_ms"),
        round(col("value") * 100).as("cents"))
    val sess = graft.streaming.StreamOps.sessionizeBatch(
      filtered, "user_id", "ts_ms", "cents", c.gapMs)
    if (c.agg)
      sess.groupBy("key").agg(count(lit(1)).as("n_sessions"),
          sum("n_events").as("sum_events"), max("n_events").as("max_events"),
          sum("value_sum").as("total_cents"))
        .orderBy("key")
    else sess.orderBy("key", "session_start")
  }

  private def sessOracle(c: SessCase): String = {
    val where = s" WHERE ${c.fe.map(_.sql).mkString(" AND ")}"
    val base = s"""e0 AS (SELECT user_id, value, ts FROM events$where),
          e AS (SELECT user_id::VARCHAR AS key, epoch_ns(ts) // 1000000 AS ts_ms,
                  round(value * 100) AS cents FROM e0),
          f AS (SELECT *, CASE WHEN ts_ms - lag(ts_ms) OVER
                    (PARTITION BY key ORDER BY ts_ms) > ${c.gapMs}
                  THEN 1 ELSE 0 END AS brk FROM e),
          s AS (SELECT *, sum(brk) OVER (PARTITION BY key ORDER BY ts_ms) AS sid
                FROM f),
          sess AS (SELECT key, min(ts_ms) AS session_start,
                     max(ts_ms) AS session_end, count(*)::BIGINT AS n_events,
                     sum(cents) AS value_sum
                   FROM s GROUP BY key, sid)"""
    if (c.agg)
      s"""WITH $base
          SELECT key, CAST(count(*) AS BIGINT) AS n_sessions,
                 CAST(sum(n_events) AS BIGINT) AS sum_events,
                 max(n_events) AS max_events, sum(value_sum) AS total_cents
          FROM sess GROUP BY key ORDER BY key"""
    else
      s"""WITH $base
          SELECT key, session_start, session_end, n_events, value_sum
          FROM sess ORDER BY key, session_start"""
  }

  // ===== generated SKETCH / SHARD / SPAN pipelines (q_fuzz_68..71) =====
  // Seeded-filter coverage for the round-9d beyond-parity operators, one
  // case per operator, each pinned in its EXACT regime so the plain
  // DuckDB compare holds at every SF including sf1:
  //   68 theta distinct algebra (custkey mod m < nomEntries -> exact;
  //      oracle = count(DISTINCT) + inclusion-exclusion),
  //   69 kll quantiles (1/p orderkey slice keeps total n << k -> exact;
  //      oracle = list_sort index at ceil(q*n)),
  //   70 deterministic shards (oracle recomputes both md5 hashes),
  //   71 duplicated-span detection (oracle = same relational pipeline).

  private case class SketchCase(name: String, kind: Int, fs: Seq[Filter],
                                m: Long, p: Long, nShards: Int,
                                seedStr: String, spanN: Int,
                                qa: String, qb: String,
                                pa: String, pb: String)

  private val sketchPipelines: Seq[SketchCase] = {
    val rnd = new scala.util.Random(686868L)
    val prio = tables.head.strPool("o_orderpriority")
    (0 until 4).map { i =>
      val t = i match {
        case 0 | 2 => tables.head       // orders
        case 1 => tables(1)             // lineitem
        case _ => documentsTable
      }
      val nf = if (i == 3) 1 else 1 + rnd.nextInt(2)
      val Seq(a, b) = rnd.shuffle(prio).take(2)
      SketchCase(f"q_fuzz_${68 + i}%02d", i,
        Seq.fill(nf)(genFilter(rnd, t)),
        m = Seq(512L, 1024L, 2048L)(rnd.nextInt(3)),
        p = Seq(701L, 1009L, 1499L)(rnd.nextInt(3)),
        nShards = Seq(4, 8, 16)(rnd.nextInt(3)),
        seedStr = rnd.nextInt(100).toString,
        spanN = 4 + rnd.nextInt(2),
        qa = Seq("0.25", "0.5")(rnd.nextInt(2)),
        qb = Seq("0.75", "0.9")(rnd.nextInt(2)),
        pa = a, pb = b)
    }
  }

  private def sketchQuery(c: SketchCase)(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sketches
    def load(t: Table): DataFrame =
      c.fs.foldLeft(XDF(ParquetIO.read(s, s"$dir/${t.name}.parquet")
        .select(t.cols.map(cc => col(cc.name)): _*)))((x, f) => f.fn(x)).toDF
    c.kind match {
      case 0 =>
        val o = load(tables.head)
          .select(pmod(col("o_custkey"), lit(c.m)).as("ck"),
            col("o_orderpriority"), col("o_orderstatus"))
        o.groupBy("o_orderstatus")
          .agg(Sketches.thetaSketch(
              when(col("o_orderpriority") === c.pa, col("ck"))).as("sa"),
            Sketches.thetaSketch(
              when(col("o_orderpriority") === c.pb, col("ck"))).as("sb"))
          .select(col("o_orderstatus"),
            Sketches.thetaEstimate(col("sa")).as("nd_a"),
            Sketches.thetaEstimate(col("sb")).as("nd_b"),
            Sketches.thetaEstimate(
              Sketches.thetaUnionPair(col("sa"), col("sb"))).as("nd_union"),
            Sketches.thetaEstimate(
              Sketches.thetaIntersect(col("sa"), col("sb"))).as("nd_both"))
          .orderBy("o_orderstatus")
      case 1 =>
        load(tables(1))
          .filter(pmod(col("l_orderkey"), lit(c.p)) === 0)
          .select(col("l_returnflag"),
            floor(col("l_extendedprice")).cast("double").as("v"))
          .groupBy("l_returnflag")
          .agg(Sketches.kllSketch(col("v"), 16384).as("sk"))
          .select(col("l_returnflag"),
            Sketches.kllQuantile(col("sk"), c.qa.toDouble).as("q_lo"),
            Sketches.kllQuantile(col("sk"), c.qb.toDouble).as("q_hi"),
            Sketches.kllN(col("sk")).as("n_rows"))
          .orderBy("l_returnflag")
      case 2 =>
        graft.operators.Layout.shardAssign(
            load(tables.head).select("o_orderkey"), Seq("o_orderkey"),
            c.nShards, c.seedStr)
          .groupBy("shard")
          .agg(count(lit(1)).as("n"), min("ord").as("min_ord"),
            max("ord").as("max_ord"))
          .orderBy("shard")
      case _ =>
        val docs = c.fs.foldLeft(XDF(ParquetIO.read(s, s"$dir/documents.parquet")
          .select("doc_id", "text", "lang", "source", "n_chars")))(
            (x, f) => f.fn(x)).toDF
        graft.operators.Dedup.duplicatedNgramSpans(
            docs.select("doc_id", "text"), "doc_id", "text", c.spanN)
          .select(col("doc_id"), col("span_start").cast("long"),
            col("span_end").cast("long"), col("n_grams"))
          .orderBy("doc_id", "span_start")
    }
  }

  private def sketchOracle(c: SketchCase): String = {
    val where = s" WHERE ${c.fs.map(_.sql).mkString(" AND ")}"
    c.kind match {
      case 0 =>
        s"""WITH o AS (SELECT o_custkey % ${c.m} AS ck, o_orderpriority,
                 o_orderstatus FROM orders$where)
            SELECT o_orderstatus,
              CAST(count(DISTINCT CASE WHEN o_orderpriority = '${c.pa}'
                THEN ck END) AS BIGINT) AS nd_a,
              CAST(count(DISTINCT CASE WHEN o_orderpriority = '${c.pb}'
                THEN ck END) AS BIGINT) AS nd_b,
              CAST(count(DISTINCT CASE WHEN o_orderpriority IN
                ('${c.pa}', '${c.pb}') THEN ck END) AS BIGINT) AS nd_union,
              CAST(count(DISTINCT CASE WHEN o_orderpriority = '${c.pa}'
                THEN ck END)
                 + count(DISTINCT CASE WHEN o_orderpriority = '${c.pb}'
                THEN ck END)
                 - count(DISTINCT CASE WHEN o_orderpriority IN
                ('${c.pa}', '${c.pb}') THEN ck END) AS BIGINT) AS nd_both
            FROM o GROUP BY o_orderstatus ORDER BY o_orderstatus"""
      case 1 =>
        s"""WITH v AS (SELECT l_returnflag,
                 CAST(floor(l_extendedprice) AS DOUBLE) AS v
               FROM lineitem$where AND l_orderkey % ${c.p} = 0)
            SELECT l_returnflag,
              (list_sort(list(v)))[CAST(ceil(${c.qa} * count(*)) AS BIGINT)]
                AS q_lo,
              (list_sort(list(v)))[CAST(ceil(${c.qb} * count(*)) AS BIGINT)]
                AS q_hi,
              CAST(count(*) AS BIGINT) AS n_rows
            FROM v GROUP BY l_returnflag ORDER BY l_returnflag"""
      case 2 =>
        s"""WITH s AS (SELECT
                 CAST(('0x' || substr(md5(coalesce(o_orderkey::VARCHAR,
                     chr(0)) || chr(1) || '${c.seedStr}'), 1, 8))::BIGINT
                   % ${c.nShards} AS INT) AS shard,
                 md5(coalesce(o_orderkey::VARCHAR, chr(0)) || chr(1)
                   || '${c.seedStr}#o') AS ord
               FROM orders$where)
            SELECT shard, CAST(count(*) AS BIGINT) AS n, min(ord) AS min_ord,
                   max(ord) AS max_ord
            FROM s GROUP BY shard ORDER BY shard"""
      case _ =>
        val n = c.spanN
        s"""WITH t AS (SELECT doc_id,
                 regexp_split_to_array(text, '\\s+') AS ts
               FROM documents$where AND length(text) > 0
                 AND len(regexp_split_to_array(text, '\\s+')) >= $n),
            p AS (SELECT doc_id, unnest(range(1, len(ts) - $n + 2)) AS i, ts
                  FROM t),
            gr AS (SELECT doc_id, i,
                     md5(array_to_string(ts[i:i+${n - 1}], ' ')) AS g FROM p),
            dup AS (SELECT g FROM gr GROUP BY g
                    HAVING min(doc_id) <> max(doc_id)),
            m AS (SELECT doc_id, i FROM gr SEMI JOIN dup USING (g)),
            b AS (SELECT doc_id, i,
                    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id
                      ORDER BY i) < $n THEN 0 ELSE 1 END AS brk FROM m),
            isl AS (SELECT doc_id, i,
                      sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp
                    FROM b)
           SELECT doc_id, min(i) AS span_start, max(i) + ${n - 1} AS span_end,
                  CAST(count(*) AS BIGINT) AS n_grams
           FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start"""
    }
  }

  // ===== generated RANGE-JOIN pipelines (q_fuzz_72..75) =====
  // The cell-bucketed range joins under seeded filters AND seeded bucket
  // widths — the width must never change the result (the law
  // RangeJoinSpec proves on synthetic data, here pinned against DuckDB
  // on the fixture). Fixed selectivity caps (the hand gates' bounds)
  // keep the pair space sane at sf1; seeded filters vary WITHIN them.

  private case class RangeCase(name: String, overlap: Boolean,
                               pfs: Seq[Filter], ifs: Seq[Filter],
                               width: Long, flagA: String, flagB: String)

  // key-column filters are banned here: a seeded o_custkey bound can
  // contradict the family's fixed o_custkey < 300 cap (first draw
  // produced `> 700 AND < 300` = an always-empty gate), and l_orderkey
  // thresholds are SF-dependent (empty below sf0.1). Redraw until the
  // filter lands on a value column.
  private def genFilterAvoiding(rnd: scala.util.Random, t: Table,
                                banned: Set[String]): Filter = {
    var f = genFilter(rnd, t)
    var tries = 0
    while (banned.exists(c => f.sql.startsWith(c + " ")) && tries < 50) {
      f = genFilter(rnd, t); tries += 1
    }
    f
  }

  private val rangePipelines: Seq[RangeCase] = {
    val rnd = new scala.util.Random(727272L)
    val flags = Seq("A", "N", "R")
    (0 until 4).map { i =>
      val overlap = i % 2 == 1
      val Seq(fa, fb) = rnd.shuffle(flags).take(2)
      // overlap cases additionally ban the flag/status columns: the case
      // itself splits sides by l_returnflag, and l_linestatus correlates
      // with it in TPC-H (R/A lines are almost all status F) — a seeded
      // status filter zeroed both overlap draws
      val ifBan: Set[String] =
        if (overlap) Set("l_orderkey", "l_returnflag", "l_linestatus")
        else Set("l_orderkey")
      RangeCase(f"q_fuzz_${72 + i}%02d", overlap,
        pfs = Seq.fill(1 + rnd.nextInt(2))(
          genFilterAvoiding(rnd, tables.head, Set("o_custkey", "o_orderkey"))),
        ifs = Seq(genFilterAvoiding(rnd, tables(1), ifBan)),
        width = Seq(16L, 32L, 64L, 128L)(rnd.nextInt(4)),
        flagA = fa, flagB = fb)
    }
  }

  private def rangeQuery(c: RangeCase)(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeJoin
    def dayOf(cc: org.apache.spark.sql.Column) =
      datediff(to_date(cc), to_date(lit("1992-01-01"))).cast("long")
    def li = c.ifs.foldLeft(XDF(ParquetIO.read(s, s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_linestatus", "l_shipdate", "l_partkey")))(
        (x, f) => f.fn(x)).toDF
    if (!c.overlap) {
      val points = c.pfs.foldLeft(XDF(ParquetIO.read(s, s"$dir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority",
          "o_orderstatus", "o_orderdate")))((x, f) => f.fn(x)).toDF
        .filter(col("o_custkey") < 300)
        .select(col("o_orderkey"), dayOf(col("o_orderdate")).as("p_day"))
      val ivs = li.filter(col("l_partkey") < 2000)
        .select(col("l_orderkey"), col("l_linenumber"),
          dayOf(col("l_shipdate")).as("s_day"),
          (dayOf(col("l_shipdate")) + floor(col("l_quantity")).cast("long"))
            .as("e_day"))
      RangeJoin.pointInInterval(points, "p_day", ivs, "s_day", "e_day",
          bucketWidth = c.width)
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_hits"), min("l_orderkey").as("min_lok"),
          max("e_day").as("max_e"))
        .orderBy("o_orderkey")
    } else {
      def side(flag: String, p: String): DataFrame =
        li.filter(col("l_returnflag") === flag && col("l_partkey") < 500)
          .select(col("l_orderkey").as(s"${p}_ok"),
            col("l_linenumber").as(s"${p}_ln"),
            dayOf(col("l_shipdate")).as(s"${p}_s"),
            (dayOf(col("l_shipdate")) + floor(col("l_quantity")).cast("long"))
              .as(s"${p}_e"))
      RangeJoin.intervalOverlap(side(c.flagA, "a"), "a_s", "a_e",
          side(c.flagB, "b"), "b_s", "b_e", bucketWidth = c.width)
        .groupBy("a_ok", "a_ln")
        .agg(count(lit(1)).as("n_overlap"), min("b_ok").as("min_bok"))
        .orderBy("a_ok", "a_ln")
    }
  }

  private def rangeOracle(c: RangeCase): String = {
    val iw = c.ifs.map(_.sql).mkString(" AND ")
    if (!c.overlap) {
      val pw = c.pfs.map(_.sql).mkString(" AND ")
      s"""WITH p AS (SELECT o_orderkey,
               date_diff('day', DATE '1992-01-01', o_orderdate::DATE) AS p_day
             FROM orders WHERE $pw AND o_custkey < 300),
          iv AS (SELECT l_orderkey, l_linenumber,
               date_diff('day', DATE '1992-01-01', l_shipdate::DATE) AS s_day,
               date_diff('day', DATE '1992-01-01', l_shipdate::DATE)
                 + CAST(floor(l_quantity) AS BIGINT) AS e_day
             FROM lineitem WHERE $iw AND l_partkey < 2000)
         SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_hits,
                min(l_orderkey) AS min_lok, max(e_day) AS max_e
         FROM p JOIN iv ON p_day BETWEEN s_day AND e_day
         GROUP BY o_orderkey ORDER BY o_orderkey"""
    } else {
      def side(flag: String, p: String) =
        s"""SELECT l_orderkey AS ${p}_ok, l_linenumber AS ${p}_ln,
               date_diff('day', DATE '1992-01-01', l_shipdate::DATE) AS ${p}_s,
               date_diff('day', DATE '1992-01-01', l_shipdate::DATE)
                 + CAST(floor(l_quantity) AS BIGINT) AS ${p}_e
             FROM lineitem
             WHERE $iw AND l_returnflag = '$flag' AND l_partkey < 500"""
      s"""WITH a AS (${side(c.flagA, "a")}), b AS (${side(c.flagB, "b")})
         SELECT a_ok, a_ln, CAST(count(*) AS BIGINT) AS n_overlap,
                min(b_ok) AS min_bok
         FROM a JOIN b ON a_s <= b_e AND b_s <= a_e
         GROUP BY a_ok, a_ln ORDER BY a_ok, a_ln"""
    }
  }

  // ===== generated EXPLODE_JSON option-matrix pipelines (q_fuzz_76..81) =====
  // explode_json is the reference's single biggest operator (390 LoC of
  // interacting options, dataframe.py:4292-4682) yet until round 11 had
  // only 3 handwritten gates. These build nested JSON payloads
  // DETERMINISTICALLY from table columns (to_json over nested struct /
  // array constructions, so the DuckDB oracle re-derives every flattened
  // cell from the SOURCE columns — no JSON parsing divergence can hide),
  // then run the full inference path (spark.read.json sample + persist)
  // and one option axis per case, cycled by index so each is covered:
  //   op 0: depth-3 nested maps + accepted/excluded col draws + collapsed
  //         primitive list (the reference default CSV-join);
  //   op 1: array-of-structs fan-out with __explode_json_index__/_len__
  //         sidecars over seeded VARIABLE-length (1..3) arrays;
  //   op 2: primitive-list fan-out (collapse=false) + maxResults cap;
  //   op 3: nestedCols (:json_encoded subtree — the oracle reproduces
  //         Spark's exact to_json rendering) + singleValueListCols;
  //   op 4: transpose_col_groups ({key,value} entries pivot to per-key
  //         columns, keys drawn from row data so presence varies by row);
  //   op 5: cogroup merge of TWO arrays with different seeded lengths
  //         (including length 0 — the pad-align + null-fill path).
  // Determinism rules: only unique-id tables (fan-out sorts on (id,
  // index) are total); no float columns anywhere near a payload (string
  // round-trips stay format-safe); at most ONE seeded filter (two draws
  // on these narrow tables too often conjoin to empty — the asof-family
  // lesson); n_name stays banned (correlated-column vacuity).

  private case class ExplodeCase(name: String, t: Table, fs: Seq[Filter],
                                 op: Int, id: String, int2: String,
                                 str1: String, str2: String,
                                 accepted: Seq[String], excluded: Seq[String])

  // ===== RANDOM-SHAPE explode_json pipelines (q_fuzz_82..85) =====
  // The option-axis cases above fix the payload SHAPE per option; these
  // randomize the shape itself: a seeded tree of nested structs to depth
  // 2-4 with 2-3 fields per level, leaves drawn from {affine int formula
  // over the row id, string column}, and at most ONE variable-length
  // array-of-structs grafted at a random position. Both the Spark
  // payload construction and the DuckDB oracle derive from the SAME tree
  // value, so the compare pins the flattener's structural recursion
  // (path naming, depth handling, array sidecars) under shapes nobody
  // hand-picked.

  private sealed trait JNode
  /** leaf: id * k + c (kept small — no overflow at any SF). */
  private case class JInt(k: Long, c: Long) extends JNode
  /** leaf: the case's string column. */
  private case object JStr extends JNode
  private case class JObj(fields: Seq[(String, JNode)]) extends JNode
  /** array of structs with leaf-only element fields; length 1 + id %
    * lenMod; element j shifts int leaves by j and suffixes str leaves. */
  private case class JArr(lenMod: Int, elem: Seq[(String, JNode)]) extends JNode

  private case class ShapeCase(name: String, t: Table, fs: Seq[Filter],
                               id: String, str1: String, tree: JObj)

  // NOTE: defined before shapePipelines/explodePipelines — object vals
  // initialize in declaration order
  private val explodeTables = Seq(tables(0), tables(2), nationTable)

  private def genLeaf(rnd: scala.util.Random): JNode =
    if (rnd.nextBoolean()) JInt(1 + rnd.nextInt(5), rnd.nextInt(100)) else JStr

  private def genTree(rnd: scala.util.Random, depth: Int,
                      arrBudget: Int): (JObj, Int) = {
    var budget = arrBudget
    val n = 2 + rnd.nextInt(2)
    val fields = (0 until n).map { i =>
      val name = s"f$i"
      val node: JNode =
        if (depth > 0 && rnd.nextInt(3) == 0 && budget > 0) {
          budget -= 1
          JArr(2 + rnd.nextInt(3),
            (0 until (1 + rnd.nextInt(2))).map(j => (s"e$j", genLeaf(rnd))))
        } else if (depth > 0 && rnd.nextBoolean()) {
          val (sub, left) = genTree(rnd, depth - 1, budget)
          budget = left
          sub
        } else genLeaf(rnd)
      (name, node)
    }
    (JObj(fields), budget)
  }

  private val shapePipelines: Seq[ShapeCase] = {
    val rnd = new scala.util.Random(858585L)
    (0 until 4).map { i =>
      val t = explodeTables(rnd.nextInt(explodeTables.length))
      val fs = Seq.fill(rnd.nextInt(2))(genFilter(rnd, t, banned = Set("n_name")))
      val strs = t.strPool.keys.toSeq.sorted
      val str1 = strs(rnd.nextInt(strs.length))
      // half the cases carry an array (fan-out path), half are pure
      // nesting (scalar recursion only); depth >= 2 so the structural
      // recursion is always exercised, and the array is GRAFTED onto the
      // root if the random walk didn't place it (a draw that skips the
      // budget would silently degrade the case to scalar-only)
      val (tree0, left) = genTree(rnd, depth = 1 + rnd.nextInt(3),
        arrBudget = i % 2)
      val tree1 =
        if (left > 0)
          JObj(tree0.fields :+ ("fa" -> JArr(2 + rnd.nextInt(3),
            Seq("e0" -> genLeaf(rnd), "e1" -> genLeaf(rnd)))))
        else tree0
      val tree =
        if (tree1.fields.forall(f => f._2.isInstanceOf[JInt] || f._2 == JStr))
          JObj(tree1.fields :+ ("fd" -> JObj(Seq(
            "g0" -> genLeaf(rnd), "g1" -> genLeaf(rnd)))))
        else tree1
      ShapeCase(f"q_fuzz_${82 + i}%02d", t, fs, uniqueIds(t.name), str1, tree)
    }
  }

  /** Spark-side payload construction for a tree node (element shift j =
    * -1 outside arrays). */
  private def shapeCol(c: ShapeCase, node: JNode, j: Int): Column = node match {
    case JInt(k, cc) =>
      val base = col(c.id) * k + cc
      (if (j >= 0) base + j else base).cast("long")
    case JStr =>
      if (j >= 0) concat(col(c.str1).cast("string"), lit("_" + j))
      else col(c.str1).cast("string")
    case JObj(fields) =>
      struct(fields.map { case (n, sub) => shapeCol(c, sub, j).as(n) }: _*)
    case JArr(lenMod, elem) =>
      val elems = (0 until (lenMod + 1)).map { jj =>
        struct(elem.map { case (n, leaf) => shapeCol(c, leaf, jj).as(n) }: _*)
      }
      slice(array(elems: _*), lit(1), (col(c.id) % lenMod + 1).cast("int"))
  }

  /** (scalar output columns, optional array info) for the oracle walk:
    * scalar = (outName, sqlExpr); array = (pathName, lenMod, elem). */
  private def shapeOracleCols(c: ShapeCase, node: JNode, path: Seq[String],
                              j: String): (Seq[(String, String)],
                                           Option[(String, Int, Seq[(String, JNode)])]) =
    node match {
      case JInt(k, cc) =>
        val e = if (j != null) s"CAST(${c.id} * $k + $cc + $j AS VARCHAR)"
                else s"CAST(${c.id} * $k + $cc AS VARCHAR)"
        (Seq((("j" +: path).mkString(":"), e)), None)
      case JStr =>
        val e = if (j != null) s"${c.str1} || '_' || $j" else c.str1
        (Seq((("j" +: path).mkString(":"), e)), None)
      case JObj(fields) =>
        var arr: Option[(String, Int, Seq[(String, JNode)])] = None
        val scalars = fields.flatMap { case (n, sub) =>
          val (s, a) = shapeOracleCols(c, sub, path :+ n, j)
          if (a.isDefined) arr = a
          s
        }
        (scalars, arr)
      case JArr(lenMod, elem) =>
        (Nil, Some((("j" +: path).mkString(":"), lenMod, elem)))
    }

  private def shapeQuery(c: ShapeCase)(s: SparkSession, dir: String): DataFrame = {
    val base = filtersOn(s, dir, c.t, c.fs).toDF
    val payload = to_json(shapeCol(c, c.tree, -1))
    val df = base.select(col(c.id), payload.as("payload"))
    val flat = graft.core.JsonFlattener.explodeJson(df, "payload", "j")
    val (_, arr) = shapeOracleCols(c, c.tree, Nil, null)
    arr match {
      case Some((p, _, _)) =>
        flat.orderBy(col(c.id), col(s"$p:__explode_json_index__"))
      case None => flat.orderBy(col(c.id))
    }
  }

  private def shapeOracle(c: ShapeCase): String = {
    val where =
      if (c.fs.isEmpty) "" else s" WHERE ${c.fs.map(_.sql).mkString(" AND ")}"
    // scalars OUTSIDE the array never shift by position: walk with j=null
    val (scalars, arr) = shapeOracleCols(c, c.tree, Nil, null)
    def q(n: String) = "\"" + n + "\""
    arr match {
      case None =>
        val sel = scalars.map { case (n, e) => s"$e AS ${q(n)}" }
        s"""SELECT ${c.id}, ${sel.mkString(", ")}
            FROM ${c.t.name}$where ORDER BY ${c.id}"""
      case Some((p, lenMod, elem)) =>
        val sel = scalars.map { case (n, e) => s"$e AS ${q(n)}" }
        val elemSel = elem.flatMap { case (n, leaf) =>
          shapeOracleCols(c, leaf, Nil, "r.range")._1.map { case (_, e) =>
            s"$e AS ${q(s"$p:$n")}" }
        }
        s"""WITH e AS (SELECT ${c.id}, ${c.str1},
                              CAST(${c.id} % $lenMod + 1 AS INT) AS l
                       FROM ${c.t.name}$where)
            SELECT ${c.id}, ${sel.mkString(", ")},
                   l AS ${q(s"$p:__explode_json_len__")},
                   CAST(r.range AS INT) AS ${q(s"$p:__explode_json_index__")},
                   ${elemSel.mkString(", ")}
            FROM e JOIN range(0, ${lenMod + 1}) r ON r.range < l
            ORDER BY ${c.id}, ${q(s"$p:__explode_json_index__")}"""
    }
  }

  private val explodePipelines: Seq[ExplodeCase] = {
    val rnd = new scala.util.Random(767676L)
    (0 until 6).map { i =>
      val t = explodeTables(rnd.nextInt(explodeTables.length))
      val fs = Seq.fill(rnd.nextInt(2))(genFilter(rnd, t, banned = Set("n_name")))
      val id = uniqueIds(t.name)
      val ints = t.cols.filter(_.kind == "int").map(_.name)
      val strs = t.strPool.keys.toSeq.sorted
      val int2 = ints.filterNot(_ == id).headOption.getOrElse(id)
      val str1 = strs(rnd.nextInt(strs.length))
      val str2 = strs(rnd.nextInt(strs.length))
      val others = Seq("b", "m", "deep", "tags")
      val accepted = "a" +: rnd.shuffle(others).take(2 + rnd.nextInt(2))
      val excluded =
        if (rnd.nextBoolean()) Seq(others(rnd.nextInt(others.length))) else Nil
      ExplodeCase(f"q_fuzz_${76 + i}%02d", t, fs, i, id, int2, str1, str2,
        accepted, excluded)
    }
  }

  private def explodeQuery(c: ExplodeCase)(s: SparkSession, dir: String): DataFrame = {
    import graft.core.JsonFlattener
    val base = filtersOn(s, dir, c.t, c.fs).toDF
    val id = col(c.id)
    val i2 = col(c.int2)
    val s1 = col(c.str1).cast("string")
    val s2 = col(c.str2).cast("string")
    def flatten(payload: Column,
                accepted: Seq[String] = Nil, excluded: Seq[String] = Nil,
                nested: Seq[String] = Nil, single: Seq[String] = Nil,
                transpose: Seq[String] = Nil, collapse: Boolean = true,
                merge: String = "join", maxResults: Int = -1): DataFrame =
      JsonFlattener.explodeJson(
        base.select(id.as(c.id), payload.as("payload")), "payload", "j",
        acceptedCols = accepted, excludedCols = excluded, nestedCols = nested,
        collapsePrimitiveList = collapse, arrayMergeMode = merge,
        singleValueListCols = single, maxResults = maxResults,
        transposeColGroups = transpose)
    c.op match {
      case 0 =>
        flatten(to_json(struct(
            id.as("a"), s1.as("b"),
            struct(i2.as("x"), s2.as("y")).as("m"),
            struct(struct(i2.as("q")).as("p")).as("deep"),
            array(s2, concat(lit("t"), (i2 % 4).cast("string"))).as("tags"))),
          accepted = c.accepted, excluded = c.excluded)
          .orderBy(id)
      case 1 =>
        val elems = (0 until 3).map { j =>
          struct(concat(lit("k"), ((id + j) % 7).cast("string")).as("k"),
            (i2 + j).cast("long").as("v"))
        }
        flatten(to_json(struct(id.as("a"),
            slice(array(elems: _*), lit(1), (id % 3 + 1).cast("int")).as("items"))))
          .orderBy(id, col("j:items:__explode_json_index__"))
      case 2 =>
        val elems = (0 until 4).map(j => (id * 10 + j).cast("long"))
        flatten(to_json(struct(s1.as("a"),
            slice(array(elems: _*), lit(1), (id % 4 + 1).cast("int")).as("nums"))),
          collapse = false, maxResults = 2)
          .orderBy(id, col("j:nums:__explode_json_index__"))
      case 3 =>
        flatten(to_json(struct(id.as("a"),
            struct(i2.as("u"), s2.as("w")).as("meta"),
            array(struct(s1.as("s"), (i2 + id).cast("long").as("t"))).as("one"))),
          nested = Seq("meta"), single = Seq("one"))
          .orderBy(id)
      case 4 =>
        flatten(to_json(struct(id.as("a"),
            array(
              struct(lit("p").as("key"), s1.as("value")),
              struct(concat(lit("q"), (id % 2).cast("string")).as("key"),
                i2.cast("string").as("value"))).as("g"))),
          transpose = Seq("g"))
          .orderBy(id)
      case _ =>
        val xs = (0 until 2).map(j => (id + j * 3).cast("long"))
        val ys = (0 until 2).map { j =>
          struct(concat(lit("y"), ((id + j) % 5).cast("string")).as("k"),
            s1.as("v"))
        }
        flatten(to_json(struct(
            slice(array(xs: _*), lit(1), (id % 2 + 1).cast("int")).as("xs"),
            slice(array(ys: _*), lit(1), (id % 3).cast("int")).as("ys"))),
          collapse = false, merge = "cogroup")
          .orderBy(id, col("j:xs:__explode_json_index__"))
    }
  }

  private def explodeOracle(c: ExplodeCase): String = {
    val where =
      if (c.fs.isEmpty) "" else s" WHERE ${c.fs.map(_.sql).mkString(" AND ")}"
    val (id, i2, s1, s2) = (c.id, c.int2, c.str1, c.str2)
    c.op match {
      case 0 =>
        val keep = c.accepted.filterNot(c.excluded.contains)
        val exprs = keep.flatMap {
          case "a" => Seq(s"""CAST($id AS VARCHAR) AS "j:a"""")
          case "b" => Seq(s"""$s1 AS "j:b"""")
          case "m" => Seq(s"""CAST($i2 AS VARCHAR) AS "j:m:x"""",
            s"""$s2 AS "j:m:y"""")
          case "deep" => Seq(s"""CAST($i2 AS VARCHAR) AS "j:deep:p:q"""")
          case _ => Seq(s"""$s2 || ',' || 't' || ($i2 % 4) AS "j:tags"""")
        }
        s"""SELECT $id, ${exprs.mkString(", ")}
            FROM ${c.t.name}$where ORDER BY $id"""
      case 1 =>
        s"""WITH e AS (SELECT $id, $i2, CAST($id % 3 + 1 AS INT) AS l
                       FROM ${c.t.name}$where)
            SELECT $id, CAST($id AS VARCHAR) AS "j:a",
                   l AS "j:items:__explode_json_len__",
                   CAST(r.range AS INT) AS "j:items:__explode_json_index__",
                   'k' || (($id + r.range) % 7) AS "j:items:k",
                   CAST($i2 + r.range AS VARCHAR) AS "j:items:v"
            FROM e JOIN range(0, 3) r ON r.range < l
            ORDER BY $id, "j:items:__explode_json_index__""""
      case 2 =>
        s"""WITH e AS (SELECT $id, $s1 AS a, CAST($id % 4 + 1 AS INT) AS l
                       FROM ${c.t.name}$where)
            SELECT $id, a AS "j:a",
                   CAST(least(l, 2) AS INT) AS "j:nums:__explode_json_len__",
                   CAST(r.range AS INT) AS "j:nums:__explode_json_index__",
                   CAST($id * 10 + r.range AS VARCHAR) AS "j:nums:value"
            FROM e JOIN range(0, 2) r ON r.range < least(l, 2)
            ORDER BY $id, "j:nums:__explode_json_index__""""
      case 3 =>
        s"""SELECT $id, CAST($id AS VARCHAR) AS "j:a",
                   '{"u":' || $i2 || ',"w":"' || $s2 || '"}'
                     AS "j:meta:json_encoded",
                   $s1 AS "j:one:s",
                   CAST($i2 + $id AS VARCHAR) AS "j:one:t"
            FROM ${c.t.name}$where ORDER BY $id"""
      case 4 =>
        s"""SELECT $id, CAST($id AS VARCHAR) AS "j:a",
                   $s1 AS "j:g:p",
                   CASE WHEN $id % 2 = 0 THEN CAST($i2 AS VARCHAR) END AS "j:g:q0",
                   CASE WHEN $id % 2 = 1 THEN CAST($i2 AS VARCHAR) END AS "j:g:q1"
            FROM ${c.t.name}$where ORDER BY $id"""
      case _ =>
        s"""WITH e AS (SELECT $id, $s1 AS s1v,
                              CAST($id % 2 + 1 AS INT) AS lx,
                              CAST($id % 3 AS INT) AS ly
                       FROM ${c.t.name}$where)
            SELECT $id,
                   lx AS "j:xs:__explode_json_len__",
                   ly AS "j:ys:__explode_json_len__",
                   CAST(r.range AS INT) AS "j:xs:__explode_json_index__",
                   CAST(r.range AS INT) AS "j:ys:__explode_json_index__",
                   CASE WHEN r.range < lx
                        THEN CAST($id + r.range * 3 AS VARCHAR) END AS "j:xs:value",
                   CASE WHEN r.range < ly
                        THEN 'y' || (($id + r.range) % 5) END AS "j:ys:k",
                   CASE WHEN r.range < ly THEN s1v END AS "j:ys:v"
            FROM e JOIN range(0, 3) r ON r.range < greatest(lx, ly)
            ORDER BY $id, "j:xs:__explode_json_index__""""
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    shapePipelines.map(c => c.name ->
      ((s: SparkSession, dir: String) => shapeQuery(c)(s, dir))).toMap ++
    explodePipelines.map(c => c.name ->
      ((s: SparkSession, dir: String) => explodeQuery(c)(s, dir))).toMap ++
    rangePipelines.map(c => c.name ->
      ((s: SparkSession, dir: String) => rangeQuery(c)(s, dir))).toMap ++
    sketchPipelines.map(c => c.name ->
      ((s: SparkSession, dir: String) => sketchQuery(c)(s, dir))).toMap ++
    sessPipelines.map(c => c.name ->
      ((s: SparkSession, dir: String) => sessQuery(c)(s, dir))).toMap ++
    asofPipelines.map(c => c.name ->
      ((s: SparkSession, dir: String) => asofQuery(c)(s, dir))).toMap ++
    dedupPipelines.map(c => c.name ->
      ((s: SparkSession, dir: String) => dedupQuery(c)(s, dir))).toMap ++
    graphPipelines.map(c => c.name ->
      ((s: SparkSession, dir: String) => graphQuery(c)(s, dir))).toMap ++
    textPipelines.map(c => c.name ->
      ((s: SparkSession, dir: String) => textQuery(c)(s, dir))).toMap ++
    setOpPipelines.map(c => c.name ->
      ((s: SparkSession, dir: String) => setOpQuery(c)(s, dir))).toMap ++
    windowPipelines.map(c => c.name ->
      ((s: SparkSession, dir: String) => windowQuery(c)(s, dir))).toMap ++
    samplePipelines.map(c => c.name ->
      ((s: SparkSession, dir: String) => sampleQuery(c)(s, dir))).toMap ++
    reshapePipelines.map(c => c.name ->
      ((s: SparkSession, dir: String) => reshapeQuery(c)(s, dir))).toMap ++
    pipelines.map { case (name, t, filters, agg) =>
      name -> { (s: SparkSession, dir: String) =>
        val base = XDF(ParquetIO.read(s, s"$dir/${t.name}.parquet")
          .select(t.cols.map(c => col(c.name)): _*))
        val filtered = filters.foldLeft(base)((x, f) => f.fn(x))
        agg match {
          case Some((keys, aggs)) =>
            val agged = filtered.aggregate(keys,
              aggs.map(_._1), aggs.map(_._2))
            // round double-valued aggregates on both sides
            val rounded = aggs.foldLeft(agged) { case (x, (c, f)) =>
              if (f == "count") x
              else {
                val n = s"$c:$f"
                x.transform(n, round(col(n), 2))
              }
            }
            val outCols = keys ++ aggs.map { case (c, f) => s"$c:$f" }
            rounded.toDF.orderBy(outCols.map(col): _*)
          case None =>
            filtered.toDF.orderBy(t.cols.map(c => col(c.name)): _*)
        }
      }
    }.toMap ++ joinPipelines.map { case (name, p, lFilters, rFilters, joinType, agg) =>
      name -> { (s: SparkSession, dir: String) =>
        def side(t: Table, fs: Seq[Filter]): XDF =
          fs.foldLeft(XDF(ParquetIO.read(s, s"$dir/${t.name}.parquet")
            .select(t.cols.map(c => col(c.name)): _*)))((x, f) => f.fn(x))
        val l = side(p.lt, lFilters)
        val r = side(p.rt, rFilters)
        val joined =
          if (joinType == "inner") l.innerJoin(r, Seq(p.lk), Seq(p.rk))
          else l.leftJoin(r, Seq(p.lk), Seq(p.rk))
        agg match {
          case Some((keys, aggs)) =>
            val agged = joined.aggregate(keys, aggs.map(_._1), aggs.map(_._2))
            val rounded = aggs.foldLeft(agged) { case (x, (c, f)) =>
              if (f == "count") x
              else { val n = s"$c:$f"; x.transform(n, round(col(n), 2)) }
            }
            val outCols = keys ++ aggs.map { case (c, f) => s"$c:$f" }
            rounded.toDF.orderBy(outCols.map(col): _*)
          case None =>
            joined.toDF.orderBy(p.lt.cols.map(c => col(c.name)): _*)
        }
      }
    }.toMap

  def oracleSql: Map[String, String] =
    shapePipelines.map(c => c.name -> shapeOracle(c)).toMap ++
    explodePipelines.map(c => c.name -> explodeOracle(c)).toMap ++
    rangePipelines.map(c => c.name -> rangeOracle(c)).toMap ++
    sketchPipelines.map(c => c.name -> sketchOracle(c)).toMap ++
    sessPipelines.map(c => c.name -> sessOracle(c)).toMap ++
    asofPipelines.map(c => c.name -> asofOracle(c)).toMap ++
    dedupPipelines.map(c => c.name -> dedupOracle(c)).toMap ++
    graphPipelines.map(c => c.name -> graphOracle(c)).toMap ++
    textPipelines.map(c => c.name -> textOracle(c)).toMap ++
    setOpPipelines.map(c => c.name -> setOpOracle(c)).toMap ++
    windowPipelines.map(c => c.name -> windowOracle(c)).toMap ++
    samplePipelines.map(c => c.name -> sampleOracle(c)).toMap ++
    reshapePipelines.map(c => c.name -> reshapeOracle(c)).toMap ++
    pipelines.map { case (name, t, filters, agg) =>
      val where =
        if (filters.isEmpty) "" else s" WHERE ${filters.map(_.sql).mkString(" AND ")}"
      val sql = agg match {
        case Some((keys, aggs)) =>
          val aggExprs = aggs.map { case (c, f) =>
            val alias = s""""$c:$f""""
            f match {
              case "count" => s"CAST(count($c) AS BIGINT) AS $alias"
              case "sum"   => s"round(sum(CAST($c AS DOUBLE)), 2) AS $alias"
              case "min"   => s"round(min(CAST($c AS DOUBLE)), 2) AS $alias"
              case "max"   => s"round(max(CAST($c AS DOUBLE)), 2) AS $alias"
            }
          }
          val outCols = keys.map(k => k) ++ aggs.map { case (c, f) => s""""$c:$f"""" }
          s"""SELECT ${(keys ++ aggExprs).mkString(", ")}
              FROM ${t.name}$where
              GROUP BY ${keys.mkString(", ")}
              ORDER BY ${outCols.mkString(", ")}"""
        case None =>
          s"""SELECT ${t.cols.map(_.name).mkString(", ")}
              FROM ${t.name}$where
              ORDER BY ${t.cols.map(_.name).mkString(", ")}"""
      }
      name -> sql
    }.toMap ++ joinPipelines.map { case (name, p, lFilters, rFilters, joinType, agg) =>
      def cte(alias: String, t: Table, fs: Seq[Filter]): String = {
        val where =
          if (fs.isEmpty) "" else s" WHERE ${fs.map(_.sql).mkString(" AND ")}"
        s"$alias AS (SELECT ${t.cols.map(_.name).mkString(", ")} FROM ${t.name}$where)"
      }
      val withClause =
        s"WITH ${cte("lf", p.lt, lFilters)}, ${cte("rf", p.rt, rFilters)}"
      val joinKw = if (joinType == "inner") "JOIN" else "LEFT JOIN"
      val from = s"FROM lf $joinKw rf ON lf.${p.lk} = rf.${p.rk}"
      val sql = agg match {
        case Some((keys, aggs)) =>
          val aggExprs = aggs.map { case (c, f) =>
            val alias = s""""$c:$f""""
            f match {
              case "count" => s"CAST(count($c) AS BIGINT) AS $alias"
              case "sum"   => s"round(sum(CAST($c AS DOUBLE)), 2) AS $alias"
              case "min"   => s"round(min(CAST($c AS DOUBLE)), 2) AS $alias"
              case "max"   => s"round(max(CAST($c AS DOUBLE)), 2) AS $alias"
            }
          }
          val outCols = keys ++ aggs.map { case (c, f) => s""""$c:$f"""" }
          s"""$withClause
              SELECT ${(keys ++ aggExprs).mkString(", ")} $from
              GROUP BY ${keys.mkString(", ")}
              ORDER BY ${outCols.mkString(", ")}"""
        case None =>
          s"""$withClause
              SELECT lf.*, rf.* $from
              ORDER BY ${p.lt.cols.map(_.name).mkString(", ")}"""
      }
      name -> sql
    }.toMap
}
