package graft

import org.apache.spark.sql.functions._
import graft.core.{JsonFlattener, Reshape, Sampling, WindowOps, XDF}
import graft.operators.{AsofJoin, Dedup, GraphOps, Similarity}
import graft.sources.TsvIO

/**
 * Literate test behind docs/COOKBOOK.md: every ```scala block in the
 * cookbook is a verbatim copy of a `// cookbook:begin:<name>` ..
 * `// cookbook:end:<name>` region in THIS file, so the doc can only show
 * code that compiles and passes. The final test enforces the sync in
 * both directions (doc block missing from spec / spec region missing
 * from doc both fail), whitespace-normalized.
 */
class CookbookSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def fixture(name: String) = {
    assume(new java.io.File(s"$dir/$name.parquet").exists())
    spark.read.parquet(s"$dir/$name.parquet")
  }

  test("cookbook: read-write-tsv") {
    val nation = fixture("nation")
    val out = graft.core.TempDirs.scratch("cookbook_tsv_")
    // cookbook:begin:read-write-tsv
    // reference: hydra.read / hydra.write (URL-encoded TSV, gz-transparent)
    TsvIO.write(nation, s"$out/nation.tsv")
    val back = TsvIO.read(spark, s"$out/nation.tsv")
    // cookbook:end:read-write-tsv
    assert(back.count() == nation.count())
  }

  test("cookbook: select-filter") {
    val orders = fixture("orders")
    // cookbook:begin:select-filter
    // reference: df.select(...).eq_str(...).gt_float(...)
    val urgent = XDF(orders)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .eqStr("o_orderpriority", "1-URGENT")
      .gtFloat("o_totalprice", 100000.0)
    // cookbook:end:select-filter
    assert(urgent.toDF.count() > 0)
  }

  test("cookbook: snake-case-compat") {
    val orders = fixture("orders")
    // cookbook:begin:snake-case-compat
    // code written against the reference's method names runs unchanged
    import graft.compat._
    val urgent = XDF(orders)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .eq_str("o_orderpriority", "1-URGENT")
      .gt_float("o_totalprice", 100000.0)
    // cookbook:end:snake-case-compat
    assert(urgent.toDF.count() > 0)
  }

  test("cookbook: aggregate") {
    val lineitem = fixture("lineitem")
    // cookbook:begin:aggregate
    // reference: df.aggregate(group_cols, agg_cols, agg_funcs)
    // output columns are named "<col>:<func>" exactly like the reference
    val byFlag = XDF(lineitem).aggregate(
      Seq("l_returnflag"),
      Seq("l_quantity", "l_extendedprice", "l_orderkey"),
      Seq("sum", "mean", "uniq_count"))
    // cookbook:end:aggregate
    assert(byFlag.toDF.columns.contains("l_quantity:sum"))
    assert(byFlag.toDF.count() == 3)
  }

  test("cookbook: group-count-argmax") {
    val orders = fixture("orders")
    // cookbook:begin:group-count-argmax
    // reference: group_count / arg_max (top-1 row per group)
    val counts = XDF(orders).groupCount("o_orderpriority")
    val best = XDF(orders)
      .sampleGroupByTopk(Seq("o_orderpriority"), "o_totalprice", 1)
    // cookbook:end:group-count-argmax
    assert(counts.toDF.count() == 5 && best.toDF.count() == 5)
  }

  test("cookbook: joins") {
    val lineitem = fixture("lineitem")
    val orders = fixture("orders")
    val part = fixture("part")
    // cookbook:begin:joins
    // reference: inner_join(lkeys, rkeys) — differently-named FK -> PK;
    // map_join broadcasts the small side (no shuffle of the big side)
    val withOrder = XDF(lineitem)
      .innerJoin(XDF(orders), Seq("l_orderkey"), Seq("o_orderkey"))
    val withPart = XDF(lineitem)
      .innerMapJoin(XDF(part), Seq("l_partkey"), Seq("p_partkey"))
    // cookbook:end:joins
    assert(withOrder.toDF.count() == lineitem.count())
    assert(withPart.toDF.count() == lineitem.count())
  }

  test("cookbook: transform") {
    val orders = fixture("orders")
    // cookbook:begin:transform
    // reference: transform / if-else / apply_precision — any Column
    // expression works, codegen'd end to end
    val scored = XDF(orders)
      .transform("bucket",
        when(col("o_totalprice") >= 200000, "high").otherwise("low"))
      .applyPrecision("o_totalprice", 2)
    // cookbook:end:transform
    assert(scored.toDF.select("bucket").distinct().count() == 2)
  }

  test("cookbook: explode-json") {
    val nation = fixture("nation")
    // cookbook:begin:explode-json
    // reference: explode_json — flattens nested maps to prefix:child
    // columns, fans arrays out to rows with index/len sidecars. Schema
    // inferred from a bounded sample here; pass schema= at corpus scale.
    val payloads = nation.select(col("n_nationkey"), to_json(struct(
      col("n_name").as("name"),
      struct(col("n_regionkey").as("region")).as("geo"))).as("payload"))
    val flat = JsonFlattener.explodeJson(payloads, "payload", "p")
    // cookbook:end:explode-json
    assert(flat.columns.toSet == Set("n_nationkey", "p:name", "p:geo:region"))
  }

  test("cookbook: pivot") {
    val lineitem = fixture("lineitem")
    // cookbook:begin:pivot
    // reference: reverse_transpose — one column per pivot value
    val wide = Reshape.reverseTranspose(lineitem,
      Seq("l_linestatus"), "l_returnflag", "l_quantity",
      values = Seq("A", "N", "R"), aggFunc = "sum")
    // cookbook:end:pivot
    assert(wide.columns.contains("l_quantity:l_returnflag:A"))
  }

  test("cookbook: sort-take") {
    val orders = fixture("orders")
    // cookbook:begin:sort-take
    // reference: sort(reverse=True).take(n)
    val top = XDF(orders).sort(Seq("o_totalprice"), reverse = true).take(10)
    // cookbook:end:sort-take
    assert(top.toDF.count() == 10)
  }

  test("cookbook: sampling") {
    val docs = fixture("documents")
    // cookbook:begin:sampling
    // reference: sample / sample_class — sample_class downsamples ONE
    // class (here: keep 10% of 'en' docs, every other language intact)
    val quarter = Sampling.sample(docs, 0.25, seed = 42)
    val balanced = Sampling.sampleClass(docs, "lang", "en",
      ratio = 0.1, seed = 42, gateCols = Seq("doc_id"))
    // cookbook:end:sampling
    assert(quarter.count() > 0 && balanced.count() < docs.count())
  }

  test("cookbook: time-windows") {
    val events = Tables.load(spark, dir, "events")
    // cookbook:begin:time-windows
    // reference: window_aggregate with a time column — tumbling windows
    val hourly = WindowOps.tumblingTimeAggregate(events, "ts", "1 hour",
      Seq("event_type"), Seq("value"), Seq("sum"))
    // cookbook:end:time-windows
    assert(hourly.columns.contains("window_start"))
    assert(hourly.count() > 0)
  }

  test("cookbook: cumulative-sum") {
    val orders = fixture("orders")
    // cookbook:begin:cumulative-sum
    // reference: cumulative_sum — running total per customer in date order
    val running = XDF(orders).cumulativeSum("o_totalprice", "running_total",
      orderCols = Seq("o_orderdate", "o_orderkey"),
      partitionCols = Seq("o_custkey"))
    // cookbook:end:cumulative-sum
    assert(running.toDF.columns.contains("running_total"))
  }

  test("cookbook: asof-join") {
    import spark.implicits._
    // cookbook:begin:asof-join
    // beyond the reference: point-in-time join — each event picks the
    // latest right-side row at or before its timestamp, per key
    val events = Seq(("u1", 10L), ("u1", 25L), ("u2", 7L))
      .toDF("user", "ts")
    val segments = Seq(("u1", 5L, "trial"), ("u1", 20L, "paid"),
      ("u2", 1L, "trial")).toDF("user", "seg_ts", "segment")
    val joined = AsofJoin.asofJoinBackward(events, segments,
      keyCols = Seq("user"), leftTs = "ts", rightTs = "seg_ts",
      rightValueCols = Seq("segment"))
    // cookbook:end:asof-join
    val got = joined.orderBy("user", "ts").collect()
      .map(r => r.getAs[String]("segment")).toSeq
    assert(got == Seq("trial", "paid", "trial"))
  }

  test("cookbook: graph-cc") {
    import spark.implicits._
    // cookbook:begin:graph-cc
    // beyond the reference: connected components. A graph that fits one
    // loop partition (graft.loop.rowsPerPartition) is labeled by union-find
    // in one task; a larger one by pointer doubling, O(log diameter) rounds
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"))
      .toDF("src", "target")
    val comps = GraphOps.connectedComponents(edges)
    // cookbook:end:graph-cc
    assert(comps.select("component").distinct().count() == 2)
  }

  test("cookbook: dedup") {
    val docs = fixture("documents")
    // cookbook:begin:dedup
    // exact dedup keeps the min-id row per distinct text (one shuffle);
    // minhashDedup catches NEAR duplicates via banded LSH — similar docs
    // share a band bucket, one representative survives per cluster
    val exact = Dedup.exact(docs, "text", "doc_id")
    val near = Dedup.minhashDedup(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 12, bands = 4)
    // cookbook:end:dedup
    assert(near.count() <= exact.count())
    // minhashDedup tracks its persisted gram frames; drain them so they
    // don't stay pinned in the shared test session (matches dup-spans)
    graft.core.Caches.release()
  }

  test("cookbook: decontaminate") {
    val docs = fixture("documents")
    // cookbook:begin:decontaminate
    // drop training docs sharing >= minMatches distinct n-grams with an
    // eval benchmark (n-gram equi-join, never all-pairs)
    val evalSet = docs.filter(col("doc_id") % 41 === 0)
    val clean = Dedup.decontaminate(docs, "doc_id", "text",
      evalSet, "text", n = 8, minMatches = 1)
    // cookbook:end:decontaminate
    assert(clean.count() < docs.count())
    graft.core.Caches.release()
  }

  test("cookbook: ann-topk") {
    val emb = fixture("embeddings")
    // cookbook:begin:ann-topk
    // brute-force cosine top-k (exact baseline; queries broadcast). For
    // corpus scale use Similarity.ivfTopK / lshTopK — same output shape
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val topk = Similarity.bruteForceTopK(emb, queries,
      idCol = "vec_id", vecCol = "embedding",
      queryIdCol = "query_id", k = 5)
    // cookbook:end:ann-topk
    assert(topk.count() == 15)
  }

  test("cookbook: dup-spans") {
    val docs = fixture("documents")
    // cookbook:begin:dup-spans
    // ExactSubstr-style span dedup: find maximal n-gram runs shared
    // across documents, then strip them in place
    val spans = Dedup.duplicatedNgramSpans(docs, "doc_id", "text", n = 8)
    val stripped = Dedup.stripDuplicatedSpans(docs, "doc_id", "text",
      n = 8, outCol = "clean_text")
    // cookbook:end:dup-spans
    assert(stripped.columns.contains("clean_text"))
    assert(spans.columns.toSet ==
      Set("doc_id", "span_start", "span_end", "n_grams"))
    graft.core.Caches.release()
  }

  // ---- the sync gate: doc blocks <-> spec regions, both directions ----

  private def normalize(code: String): String =
    code.linesIterator.map(_.trim).filter(_.nonEmpty).mkString("\n")

  test("every COOKBOOK.md example is a verbatim region of this spec") {
    val specSrc = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/test/scala/graft/CookbookSpec.scala"))
    val regionRe =
      "(?s)// cookbook:begin:([-\\w]+)\\n(.*?)// cookbook:end:\\1".r
    val regions = regionRe.findAllMatchIn(specSrc)
      .map(m => m.group(1) -> normalize(m.group(2))).toMap
    assert(regions.nonEmpty, "no cookbook regions found in spec source")

    val doc = java.nio.file.Files.readString(
      java.nio.file.Paths.get("docs/COOKBOOK.md"))
    val blockRe =
      "(?s)<!-- cookbook:([-\\w]+) -->\\s*```scala\\n(.*?)```".r
    val blocks = blockRe.findAllMatchIn(doc)
      .map(m => m.group(1) -> normalize(m.group(2))).toMap
    assert(blocks.nonEmpty, "no tagged ```scala blocks found in COOKBOOK.md")

    val missingFromDoc = regions.keySet -- blocks.keySet
    assert(missingFromDoc.isEmpty,
      s"spec regions absent from COOKBOOK.md: $missingFromDoc")
    val unknownInDoc = blocks.keySet -- regions.keySet
    assert(unknownInDoc.isEmpty,
      s"COOKBOOK.md blocks with no spec region (unverified code): $unknownInDoc")
    val drifted = blocks.collect {
      case (name, code) if regions(name) != code => name
    }
    assert(drifted.isEmpty,
      s"COOKBOOK.md blocks drifted from the tested spec code: $drifted")
  }
}
