package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import graft.functions.TextOps

/**
 * Deduplication operators for training-data pipelines — exact and
 * near-duplicate, at cluster scale.
 *
 * Scale design:
 *  - exact dedup is one hash shuffle on the content key (min_by keeps a
 *    deterministic representative);
 *  - MinHash+LSH dedup never materializes the O(n^2) pair space: docs
 *    shuffle once on (band, bandKey) buckets, candidate pairs only form
 *    inside a bucket, and the final connected component is approximated
 *    by min-doc-id representative election (one more shuffle);
 *  - all hashing is md5-based Column expressions (codegen'd, portable to
 *    any SQL oracle engine).
 *
 * The reference has only full-row `distinct` (reference: dataframe.py:
 * 479-500) — content-level near-dup is part of the beyond-parity surface.
 */
object Dedup {

  /** Exact dedup on a content column: keep one deterministic
    * representative (min of `idCol`) per distinct content value. */
  def exact(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.groupBy(col(contentCol))
      .agg(min_by(struct(df.columns.map(col): _*), col(idCol)).as("__rep__"))
      .select(col("__rep__.*"))

  /**
   * MinHash signature column: array of `numHashes` hex minima.
   * hash_i(shingle) = md5(i || ':' || shingle); signature[i] = lexicographic
   * min over shingles. Native one-pass expression — the HOF form digested
   * every shingle once per lane through interpreted lambdas.
   */
  def minhashSignature(text: Column, shingleSize: Int, numHashes: Int): Column =
    graft.plans.MinhashSignatureExpression
      .minhash_signature(text, shingleSize, numHashes)

  /** HOF formulation kept as the law-spec reference (Round4Spec). */
  private[graft] def minhashSignatureHof(text: Column, shingleSize: Int,
                                         numHashes: Int): Column =
    TextOps.letOnce(TextOps.wordShinglesHof(text, shingleSize)) { shingles =>
      array((0 until numHashes).map { i =>
        array_min(transform(shingles, s => md5(concat(lit(i + ":"), s))))
      }: _*)
    }

  /**
   * LSH banding: (bandId, bandKey) rows where bandKey = md5 of the
   * concatenated minhashes in the band. Docs sharing any (bandId, bandKey)
   * are near-dup candidates.
   *
   * Shape matters at scale: shingles explode to rows ONCE, the signature
   * is `numHashes` partial `min` aggregations (map-side combined, one
   * shuffle on doc id) — never an expression tree that re-derives the
   * signature per band reference. The naive nested-expression version
   * re-computed every md5 12x (53s at sf0.01 vs ~2s for this one).
   */
  def lshBands(df: DataFrame, idCol: String, textCol: String,
               shingleSize: Int = 3, numHashes: Int = 12, bands: Int = 4): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "numHashes must divide into bands")
    val exploded = df.select(col(idCol),
      explode(TextOps.wordShingles(col(textCol), shingleSize)).as("__sh__"))
    // double hashing (Kirsch-Mitzenmacher): ONE md5 per shingle yields two
    // 32-bit lanes h1/h2; lane i = (h1 + i*h2) mod 2^32. Same LSH
    // guarantees as independent hashes at 1/numHashes the digest work
    // (previous md5-sliced variant still paid numHashes/4 digests).
    // h2 | 1 keeps the stride odd so lanes never degenerate to h1.
    val withLanes = exploded
      .select(col(idCol), md5(col("__sh__")).as("__dg__"))
      .select(col(idCol),
        conv(substring(col("__dg__"), 1, 8), 16, 10).cast(LongType).as("__h1__"),
        conv(substring(col("__dg__"), 9, 8), 16, 10).cast(LongType)
          .bitwiseOR(lit(1L)).as("__h2__"))
    val minAggs = (0 until numHashes).map { i =>
      min(pmod(col("__h1__") + lit(i.toLong) * col("__h2__"), lit(4294967296L)))
        .as(s"__mh${i}__")
    }
    val sig = withLanes.groupBy(col(idCol)).agg(minAggs.head, minAggs.tail: _*)
    // band_key as 16-byte BINARY (unhex of the md5 hex), not the 32-char
    // hex string: the key exists only to be grouped/joined on inside
    // bucketMinJoin, and halving it halves the banded frame's shuffle
    // and cache bytes (guide: shuffle narrower types). hex <-> binary is
    // bijective, so bucket membership is unchanged.
    val bandStructs = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        unhex(md5(concat_ws("|", (0 until rowsPerBand).map(r =>
          col(s"__mh${b * rowsPerBand + r}__")): _*))).as("band_key"))
    }: _*)
    sig.select(col(idCol), explode(bandStructs).as("b"))
      .select(col(idCol), col("b.band"), col("b.band_key"))
  }

  /**
   * Per-bucket minimum via partial aggregation + equi-join back — NOT a
   * window. `min().over(Window.partitionBy(band, band_key))` forces every
   * row of a bucket into one task partition; a heavily-duplicated corpus
   * (the exact case dedup exists for — millions of copies of one
   * boilerplate page sharing a band_key) turns that partition into a
   * straggler/OOM at 100 TB. A groupBy `min` is map-side combinable —
   * each partition contributes one candidate per bucket regardless of
   * skew — and AQE skew-join handles the join-back side.
   */
  private def bucketMinJoin(banded: DataFrame, idCol: String): DataFrame = {
    // persisted: BOTH consumers (the bucket-min aggregate and the
    // join-back) read `banded`, and without the persist each re-runs the
    // whole shingle-explode + md5 + 12-min signature aggregation from the
    // corpus — the same double-scan q_dup_spans' gram frame was fixed
    // for. The (id, band, band_key) frame is tiny next to the text it
    // derives from; tracked in Caches so the caller's scope releases it.
    val b = graft.core.Caches.track(banded.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bucketMins = b.groupBy(col("band"), col("band_key"))
      .agg(min(col(idCol)).as("__bucket_min__"))
    b.join(bucketMins, Seq("band", "band_key"))
  }

  /**
   * MinHash+LSH near-dup dedup: each doc's representative is the min doc
   * id it shares any LSH bucket with (one-hop component approximation —
   * the standard first-pass dedup at corpus scale). Returns the input
   * rows whose id equals their representative.
   */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, numHashes: Int = 12, bands: Int = 4): DataFrame = {
    val banded = lshBands(df, idCol, textCol, shingleSize, numHashes, bands)
    val reps = bucketMinJoin(banded, idCol)
      .groupBy(col(idCol))
      .agg(min(col("__bucket_min__")).as("__rep__"))
    // left join: a row whose text yields no shingles (null/unshingleable)
    // never reaches `banded` — it is its own singleton, not droppable
    df.join(reps, Seq(idCol), "left")
      .filter(col("__rep__").isNull || col(idCol) === col("__rep__"))
      .drop("__rep__")
  }

  /**
   * MinHash+LSH dedup with TRUE transitive closure: bucket membership
   * becomes star edges (doc -> bucket min) and connected components
   * collapse chains A~B~C even when A and C never share a bucket — the
   * one-hop `minhashDedup` would keep such a C as a false survivor.
   * Edges stay O(docs x bands) stars, never in-bucket pairs, so the
   * component step adds only the label-propagation rounds (diameter of
   * the dup clusters, typically 2-3) on a graph far smaller than the
   * corpus.
   */
  def minhashDedupCC(df: DataFrame, idCol: String, textCol: String,
                     shingleSize: Int = 3, numHashes: Int = 12, bands: Int = 4,
                     maxIter: Int = 10, reliable: Boolean = false): DataFrame =
    minhashClusters(df, idCol, textCol, shingleSize, numHashes, bands, maxIter,
        outCol = "__cluster__", reliable = reliable)
      .filter(col("__cluster__") === col(idCol))
      .drop("__cluster__")

  /** Shared closure-dedup tail: components over `edges`, then keep rows
    * whose component min equals their own id (rows absent from the graph
    * are singletons and always kept). */
  private def keepComponentMinima(df: DataFrame, idCol: String,
                                  edges: DataFrame, maxIter: Int,
                                  reliable: Boolean = false): DataFrame = {
    val comp = GraphOps.connectedComponents(edges, maxIter, reliable)
      .select(col("node_id").as(idCol), col("component"))
    df.join(comp, Seq(idCol), "left")
      .filter(col("component").isNull || col("component") === col(idCol))
      .drop("component")
  }

  /**
   * Near-dup CLUSTER LABELS rather than survivors: every row gains
   * `outCol` = the min doc id of its transitive LSH component (its own id
   * for singletons). The label is what corpus analytics need — cluster
   * size distributions, per-cluster quality election, dedup audits —
   * where `minhashDedupCC` only answers "which rows survive".
   */
  def minhashClusters(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 12, bands: Int = 4,
                      maxIter: Int = 10, outCol: String = "cluster_id",
                      reliable: Boolean = false): DataFrame = {
    require(!df.columns.contains(outCol), s"output column '$outCol' already exists")
    val banded = lshBands(df, idCol, textCol, shingleSize, numHashes, bands)
    val edges = bucketMinJoin(banded, idCol)
      .filter(col(idCol) =!= col("__bucket_min__"))
      .select(col(idCol).as("src"), col("__bucket_min__").as("target"))
      .distinct()
    val comp = GraphOps.connectedComponents(edges, maxIter, reliable)
      .select(col("node_id").as(idCol), col("component"))
    df.join(comp, Seq(idCol), "left")
      .withColumn(outCol, coalesce(col("component"), col(idCol)))
      .drop("component")
  }

  /**
   * Representative election within clusters: keep the row with the
   * highest `scoreCol` per `clusterCol` (ties -> lowest `idCol`).
   * Composes with `minhashClusters` to implement keep-best-quality /
   * keep-longest dedup instead of keep-min-id.
   *
   * Plan shape: `max_by(struct(allCols), struct(score, -id))` — a
   * declarative, map-side-combinable aggregate, NOT a
   * `row_number().over(Window.partitionBy(cluster))` window. The window
   * moves every member of a cluster to one task, and the motivating
   * dedup input (one enormous boilerplate cluster) is exactly the
   * straggler case; the aggregate carries one candidate row per cluster
   * per map partial regardless of cluster size. The struct ordering key
   * reproduces the (score desc NULLS LAST, id asc) window order: struct
   * comparison puts a null score field below any value, so null-score
   * rows lose to scored rows, and negating the id turns max into min on
   * the tie key. The negation runs in DECIMAL(20,0): `-Long.MinValue`
   * overflows back to itself in long arithmetic, which would invert that
   * one id's tie ordering. Non-integral id types fall back to a k=1
   * bounded-heap aggregate with the identical ordering (same
   * no-straggler property).
   */
  def electRepresentative(clustered: DataFrame, clusterCol: String,
                          scoreCol: String, idCol: String): DataFrame = {
    val cols = clustered.columns.toSeq
    val rowStruct = struct(cols.map(col): _*)
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    val idIntegral = clustered.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }
    if (idIntegral) {
      val negId = -col(idCol).cast(org.apache.spark.sql.types.DecimalType(20, 0))
      clustered.groupBy(col(clusterCol))
        .agg(max_by(rowStruct, struct(col(scoreCol), negId)).as("__best__"))
        .select(col("__best__.*"))
        .select(cols.map(col): _*)
    } else {
      val entry = struct(col(scoreCol).as("k"),
        struct((idCol +: cols.filterNot(_ == idCol)).map(col): _*).as("r"))
      clustered.groupBy(col(clusterCol))
        .agg(graft.plans.BoundedTopKAgg.bounded_top_k(entry, 1, reverse = true).as("__tk__"))
        .select(explode(col("__tk__")).as("__e__"))
        .select(col("__e__.r.*"))
        .select(cols.map(col): _*)
    }
  }

  /** SimHash-based near-dup: docs sharing an identical 16-bit simhash are
    * treated as duplicates; min doc id represents the cluster. Per-hash
    * minimum is a map-side-combinable groupBy + join-back, never a window
    * over the hash (simhash16 has only 65,536 distinct values — a window
    * partition would concentrate corpus-scale row groups on one task).
    *
    * PRECONDITION: `idCol` values must be unique (the operator's contract —
    * "min doc id represents the cluster" — is meaningless otherwise). The
    * one-scan survivor semi-join below keeps rows BY ID; with duplicate
    * ids the legacy two-scan formulation additionally required the row's
    * own hash to match its representative's, so outputs would diverge
    * (ADVICE r18). Same precondition applies to [[simhashDedupHamming]]. */
  def simhashDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Survivors are EXACTLY the distinct per-hash minimum ids (ids are
    // unique by the operator's contract — "min doc id represents the
    // cluster"), and the hash space caps the rep set at 65,536 rows. So
    // instead of re-evaluating simhash16 over the corpus a second time
    // and joining on the hash, broadcast-semi-join the rep ids back on
    // the id column: ONE corpus scan + one hash evaluation total.
    // Null/unhashable text never matched the old inner hash-join, so the
    // rep aggregate drops the null-hash group to keep results identical.
    val reps = df.select(TextOps.simhash16(col(textCol)).as("__sh__"), col(idCol))
      .filter(col("__sh__").isNotNull)
      .groupBy(col("__sh__")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    df.join(broadcast(reps), Seq(idCol), "left_semi")
  }

  /**
   * Hamming-tolerant SimHash dedup — the full algorithm: docs whose
   * 16-bit simhashes differ in at most `maxHamming` bits merge into one
   * component transitively; the min doc id per component survives.
   *
   * Doc-level connectivity depends ONLY on the 16-bit hash value, so the
   * graph never touches the corpus: exact-hash buckets collapse to one
   * representative each (a map-side-combinable groupBy over at most
   * 65,536 keys), bit-flip probing (hash xor every mask of weight <=
   * maxHamming — 16 probes at distance 1, 136 more at distance 2) plus
   * connected components run over those <= 65,536 reps, and the
   * resulting survivor-id set — bounded by the hash space, never by
   * corpus size — BROADCAST-semi-joins back over the corpus on the id
   * column. Total cost: two corpus scans but only ONE simhash
   * evaluation, one tiny partial-agg shuffle, zero corpus-content
   * shuffles, and a CC graph whose size is independent of data volume.
   * (A doc-level pair graph is the trap here: k identical docs would
   * materialize k^2/2 edges — quadratic in cluster size, measured 40x
   * blowup at 10x data in the sf1 rehearsal.)
   */
  def simhashDedupHamming(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 1, maxIter: Int = 10,
                          reliable: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 2, "maxHamming must be 0..2")
    if (maxHamming == 0) return simhashDedup(df, idCol, textCol)
    val masks: Seq[Int] =
      (0 until 16).map(1 << _) ++
      (if (maxHamming >= 2)
        for { i <- 0 until 16; j <- (i + 1) until 16 } yield (1 << i) | (1 << j)
      else Nil)
    // one rep (min id) per occupied hash value: <= 65,536 rows;
    // a checkpoint leaf like the CC phase it feeds, so reliable=true
    // survives executor loss here too
    val bucketReps = org.apache.spark.sql.graft.bridge.checkpointLeaf(
      df.select(TextOps.simhash16(col(textCol)).as("__sh__"), col(idCol))
        .groupBy(col("__sh__"))
        .agg(min(col(idCol)).as("__rep__")), reliable)
    val probes = bucketReps.select(col("__rep__").as("__pid__"),
      explode(array(masks.map(m => col("__sh__").bitwiseXOR(lit(m))): _*)).as("__p__"))
    val idx = bucketReps.select(col("__rep__").as("__tid__"), col("__sh__").as("__tsh__"))
    val edges = probes.join(idx,
        col("__p__") === col("__tsh__") && col("__pid__") < col("__tid__"))
      .select(col("__pid__").as("src"), col("__tid__").as("target"))
      .distinct()
    val comp = GraphOps.connectedComponents(edges, maxIter, reliable)
      .select(col("node_id").as("__rep__"), col("component"))
    // hash -> component min id (isolated buckets label themselves).
    // Survivors are EXACTLY the distinct component-min ids (unique-id
    // contract, same argument as simhashDedup: a component min m is the
    // rep of its own bucket, so m's own hash maps back to component m),
    // and the null-hash bucket never matched the old inner hash-join —
    // so broadcast-semi-join those <= 65,536 ids back on the id column
    // instead of re-evaluating simhash16 over the corpus a second time.
    val survivors = bucketReps.join(comp, Seq("__rep__"), "left")
      .filter(col("__sh__").isNotNull)
      .select(coalesce(col("component"), col("__rep__")).as(idCol))
      .distinct()
    df.join(broadcast(survivors), Seq(idCol), "left_semi")
  }

  /**
   * Benchmark decontamination report (beyond-parity; standard LLM
   * training-data hygiene): per corpus document, the number of its
   * DISTINCT word n-grams that also occur anywhere in the evaluation
   * corpus. Only contaminated documents (>= 1 hit) appear.
   *
   * 100 TB shape: eval suites are small by contract (10^3..10^5 docs) —
   * their distinct n-gram set builds once and BROADCASTS; the corpus
   * explodes to distinct n-grams in the same scan and aggregates hits
   * per doc id, so the corpus is never shuffled on content — one explode,
   * one broadcast join, one partial-aggregated groupBy on doc id.
   */
  def contaminationReport(corpus: DataFrame, docIdCol: String, textCol: String,
                          evalDocs: DataFrame, evalTextCol: String,
                          n: Int = 8): DataFrame = {
    val evalGrams = evalDocs.select(explode(array_distinct(
        TextOps.wordShingles(col(evalTextCol), n))).as("__gram__"))
      .distinct()
    corpus.select(col(docIdCol), explode(array_distinct(
        TextOps.wordShingles(col(textCol), n))).as("__gram__"))
      .join(broadcast(evalGrams), Seq("__gram__"))
      .groupBy(col(docIdCol))
      .agg(count(lit(1)).as("eval_ngram_hits"))
  }

  /**
   * Benchmark decontamination: drop corpus documents sharing at least
   * `minMatches` distinct word n-grams with the evaluation corpus (the
   * overlap rule GPT-3-style training pipelines apply before training).
   * Documents with null/unshingleable text carry no n-grams and always
   * survive.
   */
  def decontaminate(corpus: DataFrame, docIdCol: String, textCol: String,
                    evalDocs: DataFrame, evalTextCol: String,
                    n: Int = 8, minMatches: Int = 1): DataFrame = {
    require(minMatches >= 1, s"minMatches must be >= 1: $minMatches")
    val contaminated = contaminationReport(corpus, docIdCol, textCol,
        evalDocs, evalTextCol, n)
      .filter(col("eval_ngram_hits") >= minMatches)
      .select(col(docIdCol))
    corpus.join(contaminated, Seq(docIdCol), "left_anti")
  }

  /**
   * Bloom-filter n-gram set built from a DataFrame's single string
   * column via treeAggregate — UTF-8 bytes on the put side, symmetric
   * with `BloomMightContain`'s probe. Deterministic semantics under our
   * control (no dependence on an engine version's stat.bloomFilter
   * hashing choice).
   */
  private[graft] def buildGramBloom(grams: DataFrame, col0: String,
                                    expectedItems: Long, fpp: Double): BloomFilter = {
    val empty = BloomFilter.create(math.max(expectedItems, 1L), fpp)
    grams.select(col(col0).cast(StringType)).na.drop()
      .rdd.map(_.getString(0))
      .treeAggregate(empty)(
        (bf, s) => { bf.putBinary(s.getBytes(StandardCharsets.UTF_8)); bf },
        (a, b) => a.mergeInPlace(b))
  }

  /**
   * `decontaminate` with a broadcast-Bloom pre-filter — the 100 TB shape
   * when the eval suite's n-gram set is too large to broadcast as a join
   * table but compresses to megabytes of Bloom bits (1M grams at 1% fpp
   * is ~1.2 MB vs hundreds of MB of strings). The corpus's exploded
   * grams hit the Bloom probe FIRST, inside the scan's whole-stage
   * codegen, so ~all clean grams die before any join or shuffle; only
   * bloom survivors (true hits + the fpp sliver) reach the exact confirm
   * join, which removes false positives. Results are therefore EXACTLY
   * `decontaminate`'s — the Bloom changes the plan, never the answer —
   * and the gate (q_decontaminate_bloom) shares the exact oracle.
   */
  def decontaminateBloom(corpus: DataFrame, docIdCol: String, textCol: String,
                         evalDocs: DataFrame, evalTextCol: String,
                         n: Int = 8, minMatches: Int = 1,
                         fpp: Double = 0.01): DataFrame = {
    require(minMatches >= 1, s"minMatches must be >= 1: $minMatches")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1): $fpp")
    val spark = corpus.sparkSession
    // read twice (bloom build + confirm join) so persisted; tracked in
    // graft.core.Caches — a pure cache the caller releases after the
    // consuming action (Caches.release()), so repeated calls in a
    // long-lived session don't accumulate pinned blocks
    val evalGrams = graft.core.Caches.track(
      evalDocs.select(explode(array_distinct(
          TextOps.wordShingles(col(evalTextCol), n))).as("__gram__"))
        .distinct()
        .persist())
    val bf = buildGramBloom(evalGrams, "__gram__",
      expectedItems = evalGrams.count(), fpp = fpp)
    val bloomBc = spark.sparkContext.broadcast(bf)
    val contaminated = corpus.select(col(docIdCol), explode(array_distinct(
        TextOps.wordShingles(col(textCol), n))).as("__gram__"))
      .filter(graft.plans.BloomMightContain.might_contain(col("__gram__"), bloomBc))
      .join(broadcast(evalGrams), Seq("__gram__"))
      .groupBy(col(docIdCol))
      .agg(count(lit(1)).as("eval_ngram_hits"))
      .filter(col("eval_ngram_hits") >= minMatches)
      .select(col(docIdCol))
    corpus.join(contaminated, Seq(docIdCol), "left_anti")
  }

  /**
   * Exact n-gram Jaccard similarity for candidate pairs: given a pair DF
   * with two text columns, append the Jaccard of their shingle sets.
   */
  def ngramJaccard(a: Column, b: Column, n: Int): Column =
    TextOps.letOnce(array_distinct(TextOps.wordShingles(a, n))) { sa =>
      TextOps.letOnce(array_distinct(TextOps.wordShingles(b, n))) { sb =>
        TextOps.letOnce(size(array_intersect(sa, sb)).cast(DoubleType)) { inter =>
          inter / (size(sa) + size(sb) - inter)
        }
      }
    }

  /**
   * Embedding near-dup dedup with transitive closure: connected
   * components over the `embeddingNearDupPairs` edges, keeping the min
   * id per component. Completes the dedup matrix — every near-dup
   * signal (MinHash, SimHash, embedding cosine) has both a pair/cluster
   * view and a closure-dedup view.
   */
  def embeddingDedupCC(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, signBits: Int = 12, tables: Int = 4,
                       maxIter: Int = 10, reliable: Boolean = false): DataFrame = {
    val edges = embeddingNearDupPairs(df, idCol, vecCol, threshold, signBits,
        tables = tables)
      .select(col("id_a").as("src"), col("id_b").as("target"))
    keepComponentMinima(df, idCol, edges, maxIter, reliable)
  }

  /**
   * Embedding near-dup: pairs of vectors with cosine similarity above
   * `threshold`. Candidate generation via sign-LSH buckets (see
   * Similarity.signBucket) keeps this off the O(n^2) path; `bruteForce`
   * flag forces the exact quadratic check for small/verification runs.
   *
   * Scale knobs: within-bucket candidate checking is quadratic, so
   * `signBits` must grow with the corpus (defaults are corpus-shaped:
   * 12 bits = 4096 buckets/table; raise to 16 when bucket occupancy
   * grows). Raising signBits alone costs recall — a near-dup pair
   * survives only if NO hyperplane of the wider code separates it — so
   * `tables` (default 4) adds OR-amplification: `tables` independent
   * sign codes (seeded hyperplane sets), a pair is a candidate if it
   * collides in ANY table. Recall ≈ 1-(1-p^b)^t rather than p^b
   * (measured against brute force in OperatorsSpec's recall law).
   * Candidates are unioned and de-duplicated before the exact cosine
   * check, so precision is unaffected.
   */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, signBits: Int = 12,
                            bruteForce: Boolean = false,
                            tables: Int = 4): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    val l = df.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val r = df.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    val joined =
      if (bruteForce) l.crossJoin(r)
      else {
        // one (table, bucket) pair per row per table, exploded — a pair
        // colliding in several tables dedups through `distinct` on ids
        // below before the cosine is evaluated once per surviving pair.
        val lb = l.select(col("id_a"), col("v_a"),
          explode(array((0 until tables).map(t =>
            struct(lit(t).as("t"),
              Similarity.signBucket(col("v_a"), signBits, seed = t).as("k"))): _*))
            .as("__bkt__"))
        val rb = r.select(col("id_b"), col("v_b"),
          explode(array((0 until tables).map(t =>
            struct(lit(t).as("t"),
              Similarity.signBucket(col("v_b"), signBits, seed = t).as("k"))): _*))
            .as("__bkt__"))
        lb.join(rb, "__bkt__").drop("__bkt__")
          .dropDuplicates("id_a", "id_b")
      }
    joined.filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") > threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  // ===== cross-document repeated substrings (ExactSubstr-style) =====

  /**
   * Token positions whose n-gram recurs in ANOTHER document, merged into
   * maximal spans — the span-level half of training-data dedup
   * (document-level near-dup removes whole docs; this finds the
   * boilerplate/quote/license blocks REPEATED ACROSS documents, the
   * "exact substring" dedup of Lee et al., "Deduplicating Training Data
   * Makes Language Models Better", ACL 2022, re-expressed relationally).
   *
   * Output: one row per maximal duplicated span —
   * `(idCol, span_start, span_end, n_grams)`, token positions 1-based
   * inclusive, spans merged while consecutive duplicated grams overlap
   * (gap < n).
   *
   * Scale shape (no suffix array, no all-pairs): tokenize → one
   * `posexplode` to (doc, pos, md5(gram)) rows → ONE shuffle on the gram
   * hash to find grams spanning >= 2 distinct docs (the per-gram state
   * is a count capped at 2, so a boilerplate gram repeated millions of
   * times costs one partial per partition, not a hot-key list) → semi
   * join back → per-doc window to merge positions into spans. Gram
   * hashes are md5 (codegen'd, oracle-portable); only the 16-byte hash
   * shuffles, never the gram text.
   */
  def duplicatedNgramSpans(df: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    import org.apache.spark.sql.expressions.Window
    val toks = TextOps.tokens(col(textCol))
    // docs shorter than n tokens contribute no n-grams (slice-pad grams
    // from a short tail would double-count; the reference shingler's
    // whole-doc fallback is a DIFFERENT op - minhash wants >=1 shingle)
    // persisted: BOTH consumers below (the dup-gram aggregate and the
    // join back) need this frame — without the persist each one re-scans
    // the raw corpus and re-hashes every gram. The (id, pos, 16-byte
    // hash) frame is far smaller than the text it derives from, so at
    // corpus scale MEMORY_AND_DISK is strictly cheaper than the second
    // full text scan. Tracked in graft.core.Caches: a pure cache the
    // caller releases after the consuming action (Caches.release()), so
    // repeated calls in a long-lived session don't pin blocks forever.
    //
    // Grams come from the NATIVE one-pass shingle expression, not an
    // inline slice/concat lambda: a lambda body that embeds the token
    // split re-evaluates the whole-document regex split PER GRAM (~token
    // count times per doc) — measured 31.7 s -> 2.5 s for the sf1 gram
    // build when the round-10 sf1 bench surfaced it. The >= n filter
    // above guarantees the expression's short-document whole-doc
    // fallback shingle never fires, so grams match the slice formulation
    // exactly (multiset-verified at sf1).
    // gram hash as 16-byte BINARY (unhex of the md5 hex): the hash is
    // grouped/joined on and never surfaced, and binary halves the
    // shuffled and cached bytes vs the 32-char hex string
    val grams = graft.core.Caches.track(df
      .filter(length(col(textCol)) > 0 && size(toks) >= n)
      .select(col(idCol), posexplode(transform(
        TextOps.wordShingles(col(textCol), n), s => unhex(md5(s)))))
      .select(col(idCol), (col("pos") + 1).as("pos"), col("col").as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // capped two-distinct-docs test: min/max doc per gram differ <=>
    // >= 2 docs share it; constant state per gram partial, skew-proof
    val dup = grams.groupBy("g")
      .agg(min(col(idCol)).as("__lo__"), max(col(idCol)).as("__hi__"))
      .filter(col("__lo__") =!= col("__hi__"))
      .select("g")
    val marks = grams.join(dup, Seq("g"), "left_semi")
    val w = Window.partitionBy(idCol).orderBy("pos")
    marks
      .withColumn("__brk__",
        when(col("pos") - lag("pos", 1).over(w) < n, lit(0)).otherwise(lit(1)))
      .withColumn("__grp__", sum("__brk__").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__grp__"))
      .agg(min("pos").as("span_start"),
        (max("pos") + (n - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("__grp__")
  }

  /**
   * Remove the cross-document duplicated spans found by
   * [[duplicatedNgramSpans]] from each document: tokens covered by any
   * span are dropped, survivors re-join with single spaces (output is
   * token-normalized by construction). Adds `outCol` plus
   * `n_kept`/`n_removed` token counts; docs without spans pass through
   * (normalized) unchanged.
   *
   * Scale: the span table is tiny relative to the corpus (one row per
   * maximal duplicated block); it aggregates per doc (few structs) and
   * joins back on the doc id — one small shuffle — and the strip itself
   * is a per-row HOF over (position, spans), linear in doc length times
   * spans-per-doc, no second content shuffle.
   */
  def stripDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                           n: Int, outCol: String = "clean_text"): DataFrame = {
    val spans = duplicatedNgramSpans(df, idCol, textCol, n)
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("__spans__"))
    // tokens and the kept-index array are MATERIALIZED columns, not
    // inline expressions: an expression referenced inside a lambda body
    // (element_at(toks, i)) or from three output columns would re-run
    // the whole-document regex split per token / per consumer — the same
    // per-element re-evaluation the gram build above was fixed for.
    df.join(spans, Seq(idCol), "left")
      .withColumn("__toks__", TextOps.tokens(coalesce(col(textCol), lit(""))))
      .withColumn("__sp__", coalesce(col("__spans__"),
        array().cast("array<struct<s:int,e:int>>")))
      .withColumn("__kept__", filter(sequence(lit(1), size(col("__toks__"))),
        i => !exists(col("__sp__"),
          r => i >= r.getField("s") && i <= r.getField("e"))))
      .withColumn(outCol, concat_ws(" ",
        transform(col("__kept__"), i => element_at(col("__toks__"), i))))
      .withColumn("n_kept", size(col("__kept__")).cast(LongType))
      .withColumn("n_removed",
        (size(col("__toks__")) - size(col("__kept__"))).cast(LongType))
      .drop("__spans__", "__toks__", "__sp__", "__kept__")
  }
}
