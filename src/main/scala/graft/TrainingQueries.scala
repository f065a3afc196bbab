package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextOps
import graft.operators.{Dedup, Packing, Similarity}
import graft.core.XDF
import graft.sources.ParquetIO

/**
 * Correctness-gate queries for the training-data pipeline operators
 * (TextOps / Dedup / Similarity), with DuckDB oracle SQL. Merged into
 * SparkEntry.queries.
 *
 * Oracle-portability notes: all hashing is md5-hex (identical in DuckDB),
 * vectors are cast to double on both sides before any arithmetic, and
 * argmax tie-breaks are lexicographic via struct ordering (same semantics
 * in Spark `array_min` and DuckDB `list_min`).
 */
object TrainingQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    ParquetIO.read(s, s"$dir/documents.parquet")
  private def embs(s: SparkSession, dir: String): DataFrame =
    ParquetIO.read(s, s"$dir/embeddings.parquet")
      .withColumn("embedding", transform(col("embedding"), _.cast(DoubleType)))

  // ---- shared oracle SQL fragments ----

  // shared with FuzzQueries' dedup pipelines so the fuzz oracles cannot
  // drift from the hand-written gates' tokenizer fragments
  private[graft] val toksSql = "regexp_split_to_array(text, '\\s+')"

  private[graft] def shinglesSql(n: Int): String =
    s"""CASE WHEN len(toks) < $n THEN [array_to_string(toks, ' ')]
        ELSE list_transform(range(1, len(toks) - ${n - 1} + 1),
               i -> array_to_string(toks[i:i+${n - 1}], ' ')) END"""

  /** Shared CTE chain for the MinHash LSH oracles (through per-bucket
    * min): double hashing mirroring Dedup.lshBands — one md5 per shingle,
    * h1/h2 = first/second 8 hex chars, lane i = (h1 + i*h2) mod 2^32. */
  private def minhashBucketCtesFrom(srcTable: String): String = {
    val sigExprs = (0 until 12).map(i =>
      s"min((h1 + $i * h2) % 4294967296) AS mh$i").mkString(",\n")
    val bandKeys = (0 until 4).map { b =>
      val parts = (0 until 3).map(r => s"mh${b * 3 + r}::VARCHAR").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS band_key FROM sig"
    }.mkString("\nUNION ALL\n")
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM $srcTable),
        sh AS (SELECT doc_id, ${shinglesSql(3)} AS shingles FROM t),
        lanes AS (SELECT doc_id,
                    ('0x' || substr(md5(s), 1, 8))::BIGINT AS h1,
                    ('0x' || substr(md5(s), 9, 8))::BIGINT | 1 AS h2
                  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
        sig AS (SELECT doc_id, $sigExprs FROM lanes GROUP BY doc_id),
        banded AS ($bandKeys),
        bmin AS (SELECT doc_id, band, band_key,
                   min(doc_id) OVER (PARTITION BY band, band_key) AS bucket_min
                 FROM banded)"""
  }

  private val minhashBucketCtes: String = minhashBucketCtesFrom("documents")

  /** Recursive reachability + min-label components over an `edges` CTE —
    * the transitive-closure tail shared by every CC oracle. */
  private val ccClosureCtes: String =
    """sym AS (SELECT src AS a, target AS b FROM edges
               UNION SELECT target, src FROM edges),
       nodes AS (SELECT DISTINCT a AS id FROM sym),
       reach(id, r) AS (
         SELECT id, id FROM nodes
         UNION
         SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
       comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)"""

  /** LSH bucket star edges + closure (assumes the `bmin` CTE). */
  private val ccCtes: String =
    s"""edges AS (SELECT DISTINCT doc_id AS src, bucket_min AS target
                  FROM bmin WHERE doc_id <> bucket_min),
        $ccClosureCtes"""

  private val langs = TextOps.StopWords.keys.toSeq.sorted

  private def langStructSql(l: String): String = {
    val words = TextOps.StopWords(l).map(w => s"'$w'").mkString(",")
    s"{'neg': -len(list_intersect(toks, [$words])), 'lang': '$l'}"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ===== text analysis =====

    // bounded-memory Misra-Gries heavy hitters, pinned to the EXACT
    // regime (capacity 1024 >> the fixture's 31-token vocabulary): no
    // decrement ever fires, so counts equal GROUP BY counts regardless
    // of partitioning or merge order and the plain SQL oracle holds.
    // The approximation regime's bounds are spec-tested (Round9Spec).
    "q_text_heavy_hitters" -> ((s, dir) =>
      graft.plans.FreqItemsAgg.heavyHitters(
          docs(s, dir).select(explode(TextOps.tokens(col("text"))).as("tok"))
            .filter(col("tok") =!= ""),
          "tok", capacity = 1024)
        .orderBy(col("cnt").desc, col("item"))
        .limit(20)),

    "q_text_token_count" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("n_tok", TextOps.tokenCount(col("text")))
        .withColumn("n_bpe", TextOps.bpeishTokenCount(col("text")))
        .withColumn("mean_tok_len", round(TextOps.meanTokenLength(col("text")), 4))
        .select("doc_id", "n_tok", "n_bpe", "mean_tok_len")
        .orderBy("doc_id")),

    "q_text_chunk" -> ((s, dir) =>
      Packing.chunkByTokens(docs(s, dir), "text", 50)
        .select("doc_id", "chunk_index", "chunk_text")
        .orderBy("doc_id", "chunk_index")),

    // ===== greedy token-budget packing, single shard so the bin ids are
    // the global greedy recurrence DuckDB can replay =====
    "q_pack_greedy" -> ((s, dir) =>
      Packing.packGreedy(
          Tables.load(s, dir, "documents").filter(col("doc_id") % 2 === 0)
            .select(col("doc_id"), col("n_chars")),
          "n_chars", capacity = 2000, orderCols = Seq("doc_id"),
          numPartitions = 1)
        .select("doc_id", "n_chars", "bin_id")
        .orderBy("doc_id")),

    "q_text_quality" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("uniq_ratio", round(TextOps.uniqTokenRatio(col("text")), 4))
        .withColumn("stop_ratio", round(TextOps.stopwordRatio(col("text")), 4))
        .withColumn("quality", TextOps.qualityScore(col("text")))
        .select("doc_id", "uniq_ratio", "stop_ratio", "quality")
        .orderBy("doc_id")),

    "q_text_lang_id" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("pred_lang", TextOps.languageId(col("text")))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")),

    "q_text_fingerprint" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("fp", TextOps.fingerprint(col("text"), 5))
        .select("doc_id", "fp").orderBy("doc_id")),

    "q_text_simhash" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("sh", TextOps.simhash16(col("text")))
        .select("doc_id", "sh").orderBy("doc_id")),

    "q_agg_quantile" -> ((s, dir) =>
      XDF(ParquetIO.read(s, s"$dir/lineitem.parquet"))
        .aggregate(Seq("l_returnflag"), Seq("l_quantity"), Seq("quantile4"))
        .sort(Seq("l_returnflag")).toDF),

    "q_text_clean" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("dirty", concat(lit("<p>Hello &amp; welcome</p> "),
          col("text"), lit(" contact: admin@example.com or 555-123-4567")))
        .withColumn("clean", TextOps.maskPii(TextOps.stripHtml(col("dirty"))))
        .select("doc_id", "clean").orderBy("doc_id")),

    "q_text_repetition" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("dup3", round(TextOps.dupNgramRatio(col("text"), 3) + 1e-9, 4))
        .withColumn("max_share", round(TextOps.maxTokenShare(col("text")) + 1e-9, 4))
        .select("doc_id", "dup3", "max_share").orderBy("doc_id")),

    // ===== dedup =====
    // exact dedup demonstrated on a corpus with planted duplicates (the
    // corpus unioned with a doc_id-shifted copy of itself)
    "q_dedup_exact" -> ((s, dir) => {
      val d = docs(s, dir)
      val dupped = d.union(d.withColumn("doc_id", col("doc_id") + 1000000))
      Dedup.exact(dupped, "text", "doc_id")
        .select("doc_id", "n_chars").orderBy("doc_id")
    }),

    "q_dedup_minhash_sig" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("sig", Dedup.minhashSignature(col("text"), 3, 4))
        .select(col("doc_id"),
          element_at(col("sig"), 1).as("mh0"), element_at(col("sig"), 2).as("mh1"),
          element_at(col("sig"), 3).as("mh2"), element_at(col("sig"), 4).as("mh3"))
        .orderBy("doc_id")),

    "q_dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashDedup(docs(s, dir), "doc_id", "text",
          shingleSize = 3, numHashes = 12, bands = 4)
        .select("doc_id").orderBy("doc_id")),

    "q_dedup_minhash_cc" -> ((s, dir) =>
      Dedup.minhashDedupCC(docs(s, dir), "doc_id", "text",
          shingleSize = 3, numHashes = 12, bands = 4)
        .select("doc_id").orderBy("doc_id")),

    // cluster-size histogram over the transitive near-dup components —
    // the dedup-audit view (how much of the corpus is duplicated, in what
    // cluster sizes)
    "q_dedup_cluster_sizes" -> ((s, dir) =>
      Dedup.minhashClusters(docs(s, dir), "doc_id", "text",
          shingleSize = 3, numHashes = 12, bands = 4)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .orderBy("sz")),

    // keep-longest dedup: cluster labels + representative election by
    // n_chars (ties -> min doc id) — "keep the best version" rather than
    // "keep the first seen"
    "q_dedup_elect" -> ((s, dir) =>
      Dedup.electRepresentative(
          Dedup.minhashClusters(docs(s, dir), "doc_id", "text",
            shingleSize = 3, numHashes = 12, bands = 4),
          "cluster_id", "n_chars", "doc_id")
        .select("doc_id", "cluster_id", "n_chars").orderBy("cluster_id")),

    // ===== end-to-end curation: the flagship training-data pipeline =====
    // quality gate -> language gate -> transitive near-dup dedup electing
    // the LONGEST representative -> per-source cap. Every stage is the
    // library operator, the whole chain is one lazy plan, and the result
    // is value-checked against the composed DuckDB oracle.
    "q_curation_pipeline" -> ((s, dir) => {
      val base = docs(s, dir)
        .withColumn("quality", TextOps.qualityScore(col("text")))
        .withColumn("pred_lang", TextOps.languageId(col("text")))
        .filter(col("quality") >= 0.55 && col("pred_lang") === "en")
        .drop("pred_lang")
      val clustered = Dedup.minhashClusters(base, "doc_id", "text",
        shingleSize = 3, numHashes = 12, bands = 4)
      val elected = Dedup.electRepresentative(
        clustered, "cluster_id", "n_chars", "doc_id")
      // per-source cap via the bounded-heap top-k operator — the recipe
      // must not reintroduce the per-group window the library avoids
      graft.core.XDF(elected)
        .sampleGroupByTopk(Seq("source"), "doc_id", 50, reverse = false)
        .toDF
        .select("doc_id", "source", "quality")
        .orderBy("doc_id")
    }),

    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashDedup(docs(s, dir), "doc_id", "text")
        .select("doc_id").orderBy("doc_id")),

    // hamming-tolerant simhash: bit-flip probes -> equi-join candidates
    // -> connected components (docs within 1 bit merge transitively)
    "q_dedup_simhash_hamming" -> ((s, dir) =>
      Dedup.simhashDedupHamming(docs(s, dir), "doc_id", "text", maxHamming = 1)
        .select("doc_id").orderBy("doc_id")),

    "q_ngram_jaccard" -> ((s, dir) => {
      val a = docs(s, dir).filter(col("doc_id") < 20)
        .select(col("doc_id").as("id_a"), col("text").as("text_a"))
      val b = docs(s, dir).filter(col("doc_id") < 20)
        .select(col("doc_id").as("id_b"), col("text").as("text_b"))
      a.crossJoin(broadcast(b)).filter(col("id_a") < col("id_b"))
        .withColumn("jaccard",
          round(Dedup.ngramJaccard(col("text_a"), col("text_b"), 2), 6))
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    }),

    // ===== corpus mixing: 3:1:1 over three sources, the rest dropped =====
    "q_mix_by_source" -> ((s, dir) =>
      graft.core.Sampling.mixBySource(docs(s, dir), "source",
          Map("src0" -> 3.0, "src1" -> 1.0, "src2" -> 1.0), Seq("doc_id"))
        .select("doc_id", "source").orderBy("doc_id")),

    // ===== alpha-flattening: thin dominant languages toward uniform =====
    "q_flatten_classes" -> ((s, dir) =>
      graft.core.Sampling.flattenClasses(docs(s, dir), "lang", alpha = 0.5,
          Seq("doc_id"))
        .select("doc_id", "lang").orderBy("doc_id")),

    // ===== decontamination: docs sharing 3-grams with a planted "eval
    // benchmark" are contaminated; minMatches=1. The benchmark is
    // FIXED-SIZE (every 37th doc among ids < 500, present at every SF):
    // an eval set that scaled with the corpus saturated 3-gram coverage
    // at 10x (zero survivors at sf1 = an empty-vs-empty compare), and a
    // real benchmark doesn't grow with the training corpus anyway. =====
    "q_contamination_report" -> ((s, dir) =>
      Dedup.contaminationReport(docs(s, dir), "doc_id", "text",
          docs(s, dir).filter(col("doc_id") % 37 === 0 && col("doc_id") < 500),
          "text", n = 3)
        .orderBy("doc_id")),

    "q_decontaminate" -> ((s, dir) =>
      Dedup.decontaminate(docs(s, dir), "doc_id", "text",
          docs(s, dir).filter(col("doc_id") % 37 === 0 && col("doc_id") < 500),
          "text", n = 3)
        .select("doc_id").orderBy("doc_id")),

    // broadcast-Bloom pre-filter + exact confirm join: the Bloom changes
    // the plan, never the answer, so the oracle is decontaminate's own.
    // fpp = 0.2 forces real false positives through the confirm join at
    // gate scale — a silently-skipped confirm would hash-mismatch.
    "q_decontaminate_bloom" -> ((s, dir) =>
      Dedup.decontaminateBloom(docs(s, dir), "doc_id", "text",
          docs(s, dir).filter(col("doc_id") % 37 === 0 && col("doc_id") < 500),
          "text", n = 3, fpp = 0.2)
        .select("doc_id").orderBy("doc_id")),

    // tables = 1 pins the gate to the single-table sign-LSH the DuckDB
    // oracle mirrors; the production default (tables = 4) only widens
    // candidate recall and is law-tested against brute force in specs
    "q_embed_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(
          embs(s, dir).filter(col("vec_id") % 10 === 0),
          "vec_id", "embedding", threshold = 0.25, signBits = 4, tables = 1)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("id_a", "id_b")),

    "q_dedup_embed_cc" -> ((s, dir) =>
      Dedup.embeddingDedupCC(
          embs(s, dir).filter(col("vec_id") % 10 === 0),
          "vec_id", "embedding", threshold = 0.25, signBits = 4, tables = 1)
        .select("vec_id").orderBy("vec_id")),

    // ===== similarity search =====
    "q_sim_bruteforce_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteForceTopK(
          e.select(col("vec_id"), col("embedding")),
          e.filter(col("vec_id") < 10)
            .select(col("vec_id").as("query_id"), col("embedding")),
          "vec_id", "embedding", "query_id", k = 3)
        .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
    }),

    // rows-only check (k-means quantizer not SQL-expressible; exactness
    // when probing all cells is asserted in OperatorsSpec)
    "q_sim_ivf_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      graft.operators.Similarity.ivfTopK(
          e.select(col("vec_id"), col("embedding")),
          e.filter(col("vec_id") < 10)
            .select(col("vec_id").as("query_id"), col("embedding")),
          "vec_id", "embedding", "query_id", k = 3,
          nClusters = 8, nProbes = 4)
        .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
    }),

    "q_sim_lsh_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.lshTopK(
          e.select(col("vec_id"), col("embedding")),
          e.filter(col("vec_id") < 10)
            .select(col("vec_id").as("query_id"), col("embedding")),
          "vec_id", "embedding", "query_id", k = 3, bits = 4)
        .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q_text_chunk" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
          SELECT doc_id, i AS chunk_index,
                 array_to_string(toks[i * 50 + 1 : i * 50 + 50], ' ') AS chunk_text
          FROM t, UNNEST(range((len(toks) + 49) // 50)) AS u(i)
          ORDER BY doc_id, chunk_index""",

    // the greedy recurrence replayed row-by-row over the doc_id order
    // (single shard, so Spark's "pid:bin" label is always "0:<bin>")
    "q_pack_greedy" ->
      """WITH RECURSIVE d AS (
           SELECT doc_id, n_chars,
                  row_number() OVER (ORDER BY doc_id) AS rn
           FROM documents WHERE doc_id % 2 = 0),
         rec AS (
           SELECT rn, doc_id, n_chars,
                  0::BIGINT AS bin,
                  greatest(0, n_chars)::BIGINT AS used
           FROM d WHERE rn = 1
           UNION ALL
           SELECT d.rn, d.doc_id, d.n_chars,
                  CASE WHEN rec.used > 0 AND rec.used + greatest(0, d.n_chars) > 2000
                       THEN rec.bin + 1 ELSE rec.bin END,
                  CASE WHEN rec.used > 0 AND rec.used + greatest(0, d.n_chars) > 2000
                       THEN greatest(0, d.n_chars)
                       ELSE rec.used + greatest(0, d.n_chars) END
           FROM rec JOIN d ON d.rn = rec.rn + 1)
         SELECT doc_id, n_chars, '0:' || bin AS bin_id
         FROM rec ORDER BY doc_id""",

    "q_text_heavy_hitters" ->
      s"""SELECT tok AS item, CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT unnest($toksSql) AS tok FROM documents) t
          WHERE tok <> '' GROUP BY tok
          ORDER BY cnt DESC, item LIMIT 20""",

    "q_text_token_count" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents)
          SELECT doc_id, len(toks) AS n_tok,
                 len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe,
                 round(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len(toks), 4)
                   AS mean_tok_len
          FROM t ORDER BY doc_id""",

    "q_text_quality" -> {
      val allStops = TextOps.StopWords.values.flatten.toSeq.distinct
        .map(w => s"'$w'").mkString(",")
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
          m AS (SELECT doc_id, text, toks,
                  len(list_distinct(toks))::DOUBLE / len(toks) AS uniq_ratio_raw,
                  len(list_filter(toks, x -> list_contains([$allStops], x)))::DOUBLE
                    / len(toks) AS stop_ratio_raw,
                  (length(text) - length(regexp_replace(text,
                     '[^\\p{L}\\p{N}\\s]', '', 'g')))::DOUBLE / length(text) AS punct_ratio
                FROM t)
          SELECT doc_id, round(uniq_ratio_raw, 4) AS uniq_ratio,
                 round(stop_ratio_raw, 4) AS stop_ratio,
                 round(least(length(text)::DOUBLE / 500, 1.0) * 0.25
                       + uniq_ratio_raw * 0.35
                       + least(stop_ratio_raw * 5, 1.0) * 0.2
                       + greatest(0.0, 1.0 - punct_ratio * 4) * 0.2
                       + 1e-9, 6) AS quality
          FROM m ORDER BY doc_id"""
    },

    "q_agg_quantile" ->
      """SELECT l_returnflag,
                array_to_string(quantile_cont(l_quantity, [0.25, 0.5, 0.75]), ',')
                  AS "l_quantity:quantile4"
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_text_clean" ->
      """SELECT doc_id,
                regexp_replace(regexp_replace(
                  trim(regexp_replace(regexp_replace(regexp_replace(
                    '<p>Hello &amp; welcome</p> ' || text ||
                      ' contact: admin@example.com or 555-123-4567',
                    '<[^>]*>', ' ', 'g'),
                    '&(amp|lt|gt|quot|nbsp|#\d+);', ' ', 'g'),
                    '\s+', ' ', 'g')),
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\d[\d .-]{7,}\d', '<NUMBER>', 'g') AS clean
         FROM documents ORDER BY doc_id""",

    "q_text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          sh AS (SELECT doc_id, toks, ${shinglesSql(3)} AS s3 FROM t)
          SELECT doc_id,
                 round((len(s3) - len(list_distinct(s3)))::DOUBLE / len(s3) + 1e-9, 4)
                   AS dup3,
                 round(list_max(list_transform(list_distinct(toks),
                     w -> len(list_filter(toks, x -> x = w))))::DOUBLE / len(toks)
                   + 1e-9, 4) AS max_share
          FROM sh ORDER BY doc_id""",

    "q_text_lang_id" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
          p AS (SELECT doc_id, lang,
                  list_min([${langs.map(langStructSql).mkString(", ")}]) AS best
                FROM t),
          pl AS (SELECT doc_id, lang,
                   CASE WHEN best.neg = 0 THEN 'und' ELSE best.lang END AS pred_lang
                 FROM p)
          SELECT lang, pred_lang, count(*) AS n FROM pl
          GROUP BY lang, pred_lang ORDER BY lang, pred_lang""",

    "q_text_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
          SELECT doc_id,
                 list_min(list_transform(${shinglesSql(5)}, s -> md5(s))) AS fp
          FROM t ORDER BY doc_id""",

    "q_text_simhash" -> simhashSql("SELECT doc_id, sh FROM d ORDER BY doc_id"),

    "q_dedup_exact" ->
      """WITH dupped AS (
           SELECT doc_id, text, n_chars FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text, n_chars FROM documents)
         SELECT min(doc_id) AS doc_id, arg_min(n_chars, doc_id) AS n_chars
         FROM dupped GROUP BY text ORDER BY doc_id""",

    "q_dedup_minhash_sig" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          sh AS (SELECT doc_id, ${shinglesSql(3)} AS shingles FROM t)
          SELECT doc_id,
            list_min(list_transform(shingles, s -> md5('0:' || s))) AS mh0,
            list_min(list_transform(shingles, s -> md5('1:' || s))) AS mh1,
            list_min(list_transform(shingles, s -> md5('2:' || s))) AS mh2,
            list_min(list_transform(shingles, s -> md5('3:' || s))) AS mh3
          FROM sh ORDER BY doc_id""",

    "q_dedup_minhash_lsh" ->
      s"""WITH $minhashBucketCtes,
          reps AS (SELECT doc_id, min(bucket_min) AS rep FROM bmin GROUP BY doc_id)
          SELECT doc_id FROM reps WHERE doc_id = rep ORDER BY doc_id""",

    // transitive closure over the LSH bucket stars: recursive reachability
    // replaces the one-hop bucket-min representative
    "q_dedup_minhash_cc" ->
      s"""WITH RECURSIVE $minhashBucketCtes,
          $ccCtes
          SELECT d.doc_id FROM documents d
          LEFT JOIN comp ON d.doc_id = comp.id
          WHERE comp.id IS NULL OR comp.component = d.doc_id
          ORDER BY doc_id""",

    "q_dedup_cluster_sizes" ->
      s"""WITH RECURSIVE $minhashBucketCtes,
          $ccCtes,
          labeled AS (SELECT d.doc_id,
                        coalesce(comp.component, d.doc_id) AS cluster_id
                      FROM documents d LEFT JOIN comp ON d.doc_id = comp.id),
          sizes AS (SELECT cluster_id, count(*) AS sz FROM labeled
                    GROUP BY cluster_id)
          SELECT sz, count(*) AS n_clusters FROM sizes
          GROUP BY sz ORDER BY sz""",

    "q_dedup_elect" ->
      s"""WITH RECURSIVE $minhashBucketCtes,
          $ccCtes,
          labeled AS (SELECT d.doc_id, d.n_chars,
                        coalesce(comp.component, d.doc_id) AS cluster_id
                      FROM documents d LEFT JOIN comp ON d.doc_id = comp.id),
          ranked AS (SELECT doc_id, cluster_id, n_chars,
                       row_number() OVER (PARTITION BY cluster_id
                         ORDER BY n_chars DESC, doc_id ASC) AS rn
                     FROM labeled)
          SELECT doc_id, cluster_id, n_chars FROM ranked WHERE rn = 1
          ORDER BY cluster_id""",

    "q_curation_pipeline" -> {
      val allStops = TextOps.StopWords.values.flatten.toSeq.distinct
        .map(w => s"'$w'").mkString(",")
      s"""WITH RECURSIVE pq AS (
            SELECT doc_id, text, source, n_chars, $toksSql AS toks
            FROM documents),
          pm AS (
            SELECT doc_id, text, source, n_chars, toks,
              round(least(length(text)::DOUBLE / 500, 1.0) * 0.25
                + (len(list_distinct(toks))::DOUBLE / len(toks)) * 0.35
                + least((len(list_filter(toks, x ->
                    list_contains([$allStops], x)))::DOUBLE / len(toks)) * 5,
                    1.0) * 0.2
                + greatest(0.0, 1.0 - ((length(text) - length(regexp_replace(
                    text, '[^\\p{L}\\p{N}\\s]', '', 'g')))::DOUBLE
                    / length(text)) * 4) * 0.2
                + 1e-9, 6) AS quality,
              list_min([${langs.map(langStructSql).mkString(", ")}]) AS best
            FROM pq),
          fdocs AS (
            SELECT doc_id, text, source, n_chars, quality FROM pm
            WHERE quality >= 0.55
              AND (CASE WHEN best.neg = 0 THEN 'und' ELSE best.lang END) = 'en'),
          ${minhashBucketCtesFrom("fdocs")},
          $ccCtes,
          labeled AS (SELECT f.doc_id, f.source, f.n_chars, f.quality,
                        coalesce(comp.component, f.doc_id) AS cluster_id
                      FROM fdocs f LEFT JOIN comp ON f.doc_id = comp.id),
          elected AS (SELECT doc_id, source, quality FROM (
                        SELECT doc_id, source, quality,
                          row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
                        FROM labeled) WHERE rn = 1),
          capped AS (SELECT doc_id, source, quality FROM (
                       SELECT doc_id, source, quality,
                         row_number() OVER (PARTITION BY source
                           ORDER BY doc_id ASC) AS rn2
                       FROM elected) WHERE rn2 <= 50)
          SELECT doc_id, source, quality FROM capped ORDER BY doc_id"""
    },

    "q_dedup_simhash" -> simhashSql(
      """SELECT doc_id FROM (
           SELECT doc_id, min(doc_id) OVER (PARTITION BY sh) AS rep FROM d)
         WHERE doc_id = rep ORDER BY doc_id"""),

    "q_dedup_simhash_hamming" -> {
      val masks = (Seq(0) ++ (0 until 16).map(1 << _)).mkString(", ")
      simhashSql(
        select = """SELECT d.doc_id FROM d LEFT JOIN comp ON d.doc_id = comp.id
                    WHERE comp.id IS NULL OR comp.component = d.doc_id
                    ORDER BY doc_id""",
        extraCtes = s"""probes AS (SELECT doc_id AS pid, xor(sh, m) AS p
                          FROM d, unnest([$masks]) AS u(m)),
                        edges AS (SELECT DISTINCT pid AS src, d.doc_id AS target
                                  FROM probes JOIN d ON p = d.sh AND pid < d.doc_id),
                        $ccClosureCtes""",
        recursive = true)
    },

    "q_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id < 20),
          sh AS (SELECT doc_id, list_distinct(${shinglesSql(2)}) AS s FROM t)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 round(len(list_intersect(a.s, b.s))::DOUBLE
                   / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
          FROM sh a, sh b WHERE a.doc_id < b.doc_id ORDER BY id_a, id_b""",

    "q_mix_by_source" ->
      """WITH w AS (SELECT * FROM (VALUES ('src0', 3.0::DOUBLE),
                   ('src1', 1.0::DOUBLE), ('src2', 1.0::DOUBLE)) AS t(source, wt)),
          counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
          cc AS (SELECT min(n / wt) AS c FROM counts JOIN w USING (source)),
          thr AS (SELECT source,
                    floor(least(1.0, (SELECT c FROM cc) * wt / n) * 4294967296)::BIGINT AS t
                  FROM counts JOIN w USING (source))
          SELECT d.doc_id, d.source FROM documents d JOIN thr USING (source)
          WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || chr(1) || '0'), 1, 8))::BIGINT < thr.t
          ORDER BY d.doc_id""",

    "q_flatten_classes" ->
      """WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
          nm AS (SELECT min(n) AS nmin FROM counts),
          thr AS (SELECT lang,
                    floor(pow((SELECT nmin FROM nm)::DOUBLE / n, 0.5) * 4294967296)::BIGINT AS t
                  FROM counts)
          SELECT d.doc_id, d.lang FROM documents d JOIN thr USING (lang)
          WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || chr(1) || '0'), 1, 8))::BIGINT < thr.t
          ORDER BY d.doc_id""",

    "q_contamination_report" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          sh AS (SELECT doc_id, list_distinct(${shinglesSql(3)}) AS s FROM t),
          ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 37 = 0 AND doc_id < 500),
          dg AS (SELECT doc_id, unnest(s) AS g FROM sh)
          SELECT dg.doc_id, count(*) AS eval_ngram_hits
          FROM dg JOIN ev ON dg.g = ev.g
          GROUP BY dg.doc_id ORDER BY doc_id""",

    "q_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          sh AS (SELECT doc_id, list_distinct(${shinglesSql(3)}) AS s FROM t),
          ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 37 = 0 AND doc_id < 500),
          dg AS (SELECT doc_id, unnest(s) AS g FROM sh),
          bad AS (SELECT DISTINCT dg.doc_id FROM dg JOIN ev ON dg.g = ev.g)
          SELECT d.doc_id FROM documents d
          WHERE d.doc_id NOT IN (SELECT doc_id FROM bad)
          ORDER BY d.doc_id""",

    // Bloom pre-filter variant: exact-equal results by construction, so
    // the oracle is identical to q_decontaminate's
    "q_decontaminate_bloom" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          sh AS (SELECT doc_id, list_distinct(${shinglesSql(3)}) AS s FROM t),
          ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 37 = 0 AND doc_id < 500),
          dg AS (SELECT doc_id, unnest(s) AS g FROM sh),
          bad AS (SELECT DISTINCT dg.doc_id FROM dg JOIN ev ON dg.g = ev.g)
          SELECT d.doc_id FROM documents d
          WHERE d.doc_id NOT IN (SELECT doc_id FROM bad)
          ORDER BY d.doc_id""",

    "q_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                     ${signBucketSql("embedding", 4)} AS bkt
                   FROM embeddings WHERE vec_id % 10 = 0)
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(${cosineSql("a.v", "b.v")}, 6) AS cosine
          FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
          WHERE ${cosineSql("a.v", "b.v")} > 0.25
          ORDER BY id_a, id_b""",

    "q_dedup_embed_cc" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                     ${signBucketSql("embedding", 4)} AS bkt
                   FROM embeddings WHERE vec_id % 10 = 0),
          edges AS (SELECT a.vec_id AS src, b.vec_id AS target
                    FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
                    WHERE ${cosineSql("a.v", "b.v")} > 0.25),
          $ccClosureCtes
          SELECT e.vec_id FROM e LEFT JOIN comp ON e.vec_id = comp.id
          WHERE comp.id IS NULL OR comp.component = e.vec_id
          ORDER BY vec_id""",

    "q_sim_bruteforce_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
          scored AS (
            SELECT q.query_id, e.vec_id, ${cosineSql("e.v", "q.qv")} AS cos_raw
            FROM e, q),
          ranked AS (SELECT query_id, vec_id, cos_raw,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_raw DESC, vec_id) AS rn
                     FROM scored)
          SELECT query_id, vec_id, round(cos_raw, 6) AS cosine
          FROM ranked WHERE rn <= 3 ORDER BY query_id, cos_raw DESC, vec_id""",

    "q_sim_lsh_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                     ${signBucketSql("embedding", 4)} AS bkt
                   FROM embeddings),
          q AS (SELECT vec_id AS query_id, v AS qv, bkt FROM e WHERE vec_id < 10),
          scored AS (
            SELECT q.query_id, e.vec_id, ${cosineSql("e.v", "q.qv")} AS cos_raw
            FROM e JOIN q ON e.bkt = q.bkt),
          ranked AS (SELECT query_id, vec_id, cos_raw,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_raw DESC, vec_id) AS rn
                     FROM scored)
          SELECT query_id, vec_id, round(cos_raw, 6) AS cosine
          FROM ranked WHERE rn <= 3 ORDER BY query_id, cos_raw DESC, vec_id""",
  )

  /** Cosine in explicit double arithmetic mirroring Similarity.cosine's
    * fold order (sequential sum over dimensions). */
  private def cosineSql(a: String, b: String): String =
    s"""(list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]))
        / (sqrt(list_sum(list_transform($a, x -> x * x)))
           * sqrt(list_sum(list_transform($b, x -> x * x)))))"""

  /** Sign-LSH bucket key mirroring Similarity.signBucket. */
  private def signBucketSql(vecCol: String, bits: Int): String =
    (1 to bits).map(i =>
      s"CASE WHEN $vecCol[$i] >= 0 THEN '1' ELSE '0' END").mkString("(", " || ", ")")

  /** 16-bit simhash oracle mirroring TextOps.simhash16: CTE `d(doc_id, sh)`
    * then `select` over it. */
  private def simhashSql(select: String, extraCtes: String = "",
                         recursive: Boolean = false): String = {
    val bitExprs = (0 until 16).map { j =>
      val hexChar = j / 4 + 1
      val bitInChar = 3 - (j % 4)
      s"""CASE WHEN 2 * list_sum(list_transform(toks,
            t -> (strpos('0123456789abcdef', substr(md5(t), $hexChar, 1)) - 1)
                 >> $bitInChar & 1)) > len(toks)
          THEN ${1 << (15 - j)} ELSE 0 END"""
    }.mkString(" + ")
    val kw = if (recursive) "WITH RECURSIVE" else "WITH"
    val extra = if (extraCtes.nonEmpty) s",\n$extraCtes" else ""
    s"""$kw t AS (SELECT doc_id, list_distinct($toksSql) AS toks FROM documents),
        d AS (SELECT doc_id, $bitExprs AS sh FROM t)$extra
        $select"""
  }
}
