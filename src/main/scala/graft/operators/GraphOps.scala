package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.bridge.{checkpointLeaf, observedLeaf, releaseCheckpoints,
  withRowCount}

/**
 * Graph algorithms over edge-list DataFrames with the reference's
 * convention columns `src` / `target` (reference:
 * python-packages/core/src/omigo_core/graph_traversal.py).
 *
 * Pregel-style shape: every iterative loop but [[removeDanglingEdges]]
 * runs on one driver ([[fixpoint]]), a round of joins per superstep,
 * each round fully distributed and checkpointed; a loop supplies only
 * its seed, its round, its probe and its exhaustion action. No
 * GraphFrames dependency.
 *
 * Every loop frame is a checkpoint leaf (`bridge.observedLeaf`): origin
 * stats, no constraints, the hash layout the loop placed declared on the
 * leaf (so per-round joins against it never re-shuffle it), and the
 * round's fixpoint probe observed in the leaf's own job. A separate
 * `count()` over each new leaf would cost a plan and a job per round:
 * about half of a small-graph closure gate's wall time was driver
 * planning between jobs. Probes that compare value sums across rounds
 * (forwardPaths' total-path fixpoint) rely on observed values being
 * exact, which holds with speculative execution off.
 *
 * `reliable = false` (the default) checkpoints locally: fast, but the
 * blocks live only in the executors' block managers, so an executor
 * lost mid-loop kills the job. `reliable = true` writes reliable
 * checkpoint files (call `spark.sparkContext.setCheckpointDir(...)`
 * first, typically on the cluster's DFS), so loops survive executor
 * loss — the mode to run at cluster scale (SCALE.md "Reliable
 * checkpointing").
 */
object GraphOps {

  /** Checkpoint a loop-invariant frame on a declared hash(`key`) layout,
    * so the per-round joins against it never re-shuffle it. The layout is
    * sized by the materialized leaf's partition count — a free,
    * data-adaptive reading (AQE already coalesced the leaf's final
    * shuffle from its actual bytes): no job, nothing collected. A
    * 1-partition leaf satisfies any hash layout as-is, so small frames
    * skip the second materialization. Returns the leaf and its count. */
  private def invariantOn(df: DataFrame, key: String,
                          reliable: Boolean): (DataFrame, Int) = {
    val d0 = checkpointLeaf(df, reliable, Seq(key))
    val n = math.max(1, d0.queryExecution.toRdd.getNumPartitions)
    if (n == 1) (d0, 1)
    else {
      val d = checkpointLeaf(d0.repartition(n, col(key)), reliable, Seq(key), Some(n))
      releaseCheckpoints(d0)
      (d, n)
    }
  }

  /** Scale-adaptive loop partition count: sized from the frame's observed
    * row count (the checkpoint's fused count metric — free), targeting
    * `graft.loop.rowsPerPartition` rows per partition (default 1M, about
    * 10-100 MB for typical edge/label rows), capped by the session's
    * shuffle-partition sizing so a cluster's knob governs the ceiling.
    * Never a constant tuned to either local mode or one cluster. */
  private def loopN(df: DataFrame, rows: Long): Int = {
    val rowsPer = loopRows(df)
    math.max(1, math.min(loopNCap(df), ((rows + rowsPer - 1) / rowsPer).toInt))
  }

  /** `graft.loop.rowsPerPartition`, at least 1. */
  private def loopRows(df: DataFrame): Long =
    math.max(1L, df.sparkSession.conf.get("graft.loop.rowsPerPartition", "1000000").toLong)

  /** Ceiling for [[loopN]] and the sizing of seed frames whose row count
    * is not yet known: the session's shuffle-partition knob — the same
    * sizing every non-loop exchange starts from. */
  private def loopNCap(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt

  /** Seed partition count before any row count is observable: the input's
    * PLANNED partition count, capped by the session knob (which is also
    * the answer when the plan declares none — a plain scan, or an
    * aggregate whose exchange the planner inserts only later).
    * Read from the physical plan before execution — `df.rdd` would run
    * the input's shuffle stages under AQE, and the seed checkpoint would
    * then run them a second time. */
  private def seedN(df: DataFrame): Int = {
    val planned = df.queryExecution.sparkPlan.outputPartitioning.numPartitions
    math.max(1, math.min(loopNCap(df), if (planned > 0) planned else Int.MaxValue))
  }

  /**
   * The fixpoint driver: Pregel's superstep loop (Malewicz et al., SIGMOD
   * 2010) with a checkpoint as the barrier. The loop supplies
   *  - `seed`, its first state, and `rows`, the seed's row count (-1 when
   *    not counted). A seed counted empty runs no round;
   *  - `round`: from the live states (oldest first) and the partition
   *    count for this round, the round's frame and its delta probe;
   *  - `stop`, the fixpoint test on the previous and the new probe value
   *    (the seed's "previous" value is `rows`);
   *  - `exhausted`, called once on the last state when `maxIter` rounds
   *    end short of the fixpoint: it warns or throws.
   *
   * The driver owns the rest. Each round is ONE [[observedLeaf]] job
   * carrying the probe plus a row count, so a round costs no separate
   * count plan+job.
   * A checkpoint, not a cache: it truncates lineage, so the plan does not
   * grow with the round count (a cache alone leaves a recursive DAG that
   * re-plans ever larger each round). The row count sizes the next round
   * (`size`: [[loopN]], unless the loop's layout is pinned to another
   * frame's), and when the loop keeps a `layout` the leaf is declared
   * hash(`layout`, that size), so the next round's joins on it plan no
   * exchange. Persists a round tracks in [[graft.core.Caches]] are
   * released once its leaf is materialized; the leaf itself belongs to the
   * caller's query scope, which frees every leaf left at its exit, also
   * after an exhaustion throw.
   *
   * Release. A released local checkpoint cannot recompute, so only frames
   * nothing still reads are released here, early, before the query's
   * action. Without `keep` the state the new leaf supersedes is released
   * every round (else maxIter copies pin block-manager memory). With
   * `keep` the result reads every round's leaf (a union over them), so
   * all are kept and returned, except an empty last leaf, which nothing
   * reads. `reads` are the frames every
   * round reads (loop-invariant edge leaves): never released as state,
   * and released after the loop unless the result is one of them.
   * Returns the live states: all kept ones with `keep`, else the last.
   */
  private def fixpoint(seed: DataFrame, rows: Long, maxIter: Int, reliable: Boolean,
                       reads: Seq[DataFrame] = Nil, keep: Boolean = false,
                       layout: Seq[String] = Nil,
                       size: (DataFrame, Long) => Int = loopN)(
                       round: (Seq[DataFrame], Int) => (DataFrame, Column),
                       stop: (Long, Long) => Boolean = (_, d) => d == 0L,
                       exhausted: DataFrame => Unit): Seq[DataFrame] = {
    var states = Vector(seed)
    var (prev, prevRows, i) = (rows, rows, 0)
    var done = rows == 0L
    try {
      while (i < maxIter && !done) {
        val n = size(states.last, prevRows)
        val (leaf, Seq(d, r)) = graft.core.Caches.persistScoped {
          val (frame, delta) = round(states, n)
          observedLeaf(frame, reliable, Seq(delta, count(lit(1))), layout, Some(n))
        }
        done = stop(prev, d)
        if (keep) { if (r > 0L || !done) states :+= leaf else releaseCheckpoints(leaf) }
        else {
          if (!reads.exists(_ eq states.last)) releaseCheckpoints(states.last)
          states = Vector(leaf)
        }
        prev = d; prevRows = r; i += 1
      }
      if (!done) exhausted(states.last)
      states
    } finally reads.filterNot(f => states.exists(_ eq f)).foreach(releaseCheckpoints)
  }

  /**
   * BFS level assignment from root nodes (reference GT:7-78
   * `get_bfs_levels`): returns (node_id, level) with level 0 at roots;
   * unreachable nodes are absent. Cycle-tolerant — a node keeps its
   * first (minimal) level.
   */
  def bfsLevels(edges: DataFrame, roots: DataFrame, maxIter: Int = 20,
                reliable: Boolean = false): DataFrame = {
    // loop-invariant edge frame, joined on `src` by every BFS iteration
    // (at corpus scale a re-shuffle was one full edge shuffle per level).
    val (e, _) = invariantOn(edges.select(col("src"), col("target")), "src", reliable)
    // the seed stays lazy: checkpointing it would cost one more job
    val seed = roots.select(col("node_id")).distinct().withColumn("level", lit(0))
    // the result is the union of every level: the rounds' leaves are kept
    fixpoint(seed, -1L, maxIter, reliable, reads = Seq(e), keep = true)(
      round = { (levels, _) =>
        val frontier = levels.last
        (frontier.join(e, frontier("node_id") === e("src"), "inner")
          .select(col("target").as("node_id"), (col("level") + 1).as("level"))
          .join(levels.reduce(_ union _).select(col("node_id").as("seen")),
            col("node_id") === col("seen"), "left_anti")
          .groupBy("node_id").agg(min("level").as("level")), count(lit(1)))
      },
      exhausted = _ => graft.core.Log.warn(s"bfsLevels stopped at maxIter=$maxIter " +
        "with a non-empty frontier; nodes deeper than that are missing levels")
    ).reduce(_ union _)
  }

  /**
   * Iteratively prune dangling edges (reference GT:215-285
   * `remove_dangling_edges`): an edge dangles when its target has no
   * outgoing edge and is not in `retainIds`. Each iteration removes the
   * current leaf fringe; fixpoint or maxIter.
   */
  def removeDanglingEdges(edges: DataFrame, retainIds: Seq[String],
                          maxIter: Int = 10): DataFrame = {
    // persisted: the first iteration reads the input edges twice (the
    // src-set distinct AND the prune join probe side) — without the
    // persist both evaluate the upstream lineage from source. Later
    // iterations read the previous iteration's own cache instead. Pure
    // cache, released by the caller's Caches scope. The persist target is
    // a DERIVED projection (select of the input's own columns), never the
    // caller-owned frame itself: persisting `edges` directly would let
    // this scope's release unpersist a cache the caller created for its
    // own reuse (ADVICE r18 — Spark treats the second persist as a no-op
    // and the single unpersist drops both).
    var e = graft.core.Caches.track(
      edges.select(edges.columns.map(col).toSeq: _*).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    var cached: DataFrame = null
    var prevCount = -1L
    var i = 0
    var done = false
    while (i < maxIter && !done) {
      val srcs = e.select(col("src").as("__s__")).distinct()
      val pruned = e
        .join(srcs, e("target") === col("__s__"), "left")
        .filter(col("__s__").isNotNull || col("target").isin(retainIds: _*))
        .drop("__s__")
      // fixpoint check only matters if another iteration would run; the
      // single count() doubles as the cache materialization
      if (i + 1 < maxIter) {
        pruned.cache()
        val n = pruned.count()
        // the superseded iteration's cache is dead weight once the new
        // one is materialized — unpersist or maxIter-1 copies pin memory
        if (cached != null) cached.unpersist()
        cached = pruned
        if (n == prevCount) done = true
        prevCount = n
      }
      e = pruned
      i += 1
    }
    if (!done)
      graft.core.Log.warn(s"removeDanglingEdges stopped at maxIter=$maxIter " +
        "without reaching a fixpoint; some dangling chains may remain — " +
        "raise maxIter for deep prune cascades")
    e
  }

  /** In/out degree per node — building block for the pruning family. */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("node_id"))
      .agg(count(lit(1)).as("out_degree"))
    val in = edges.groupBy(col("target").as("node_id"))
      .agg(count(lit(1)).as("in_degree"))
    out.join(in, Seq("node_id"), "full")
      .na.fill(0, Seq("out_degree", "in_degree"))
  }

  /**
   * Remove cycle-closing edges using timestamp order (reference
   * GT:288-342 `remove_cycles` relies on time-ordered forward edges):
   * keep only edges whose target's earliest incoming timestamp is not
   * earlier than the src's — a DAG-izing filter for event graphs.
   */
  def removeCycles(edges: DataFrame, tsCol: String): DataFrame = {
    val firstSeen = edges.groupBy(col("target").as("node_id"))
      .agg(min(col(tsCol)).as("__first_in__"))
    edges.join(firstSeen, edges("src") === col("node_id"), "left")
      .filter(col("__first_in__").isNull || col("__first_in__") <= col(tsCol))
      .drop("node_id", "__first_in__")
  }

  /**
   * Collapse similar leaf nodes into grouped super-nodes (reference
   * GT:344-444 `merge_similar_nodes_reference` — flagged buggy there and
   * treated as spec): leaves (no outgoing edges) sharing the same parent
   * and the same `similarityKey` value merge into one `grp:<parent>:<key>`
   * node with a `merged_count`. One aggregation, no iteration.
   */
  def mergeSimilarLeafNodes(edges: DataFrame,
                            similarityKey: DataFrame => Column): DataFrame = {
    val srcs = edges.select(col("src").as("__s__")).distinct()
    // persisted: BOTH output branches (leaves, non-leaves) read `tagged`,
    // and without the persist each re-executes the leaf-marking join —
    // two shuffles of the edge list where one suffices. Pure cache,
    // released by the caller's Caches scope.
    val tagged = graft.core.Caches.track(
      edges.join(srcs, edges("target") === col("__s__"), "left")
        .withColumn("__is_leaf__", col("__s__").isNull).drop("__s__")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val leaves = tagged.filter(col("__is_leaf__"))
      .withColumn("__simkey__", similarityKey(tagged))
      .groupBy(col("src"), col("__simkey__"))
      .agg(count(lit(1)).as("merged_count"))
      .select(col("src"),
        concat(lit("grp:"), col("src"), lit(":"), col("__simkey__")).as("target"),
        col("merged_count"))
    val nonLeaves = tagged.filter(!col("__is_leaf__"))
      .select(col("src"), col("target"), lit(1L).as("merged_count"))
    nonLeaves.unionByName(leaves)
  }

  /**
   * Connected components over the undirected view of the edge list:
   * (node_id, component) where component = the minimum node id reachable
   * (a null endpoint yields one (null, null) row and joins nothing).
   *
   * The edges are read as (src, target), both cast to the common type the
   * symmetric view's `array(struct, struct)` coerces them to (a hash map
   * would take `1: Int` and `1L` for two nodes). Union-find in one task
   * ([[unionFindComponents]]) labels them when twice the edge rows, the
   * symmetric view's upper bound, fit ONE loop partition ([[loopN]],
   * `graft.loop.rowsPerPartition`): it needs neither the mirrored rows nor
   * their `distinct`, and the loop would run every stage as one task
   * anyway, its ~30 jobs, planned and launched one after another, costing
   * far more in planning and job cadence than the work on the data. The
   * result carries its observed row count as statistics, so a small one
   * can be broadcast or sorted in place. Three regimes:
   *  - direct: the cast edge plan already runs as one task
   *    (`plans.OneJobPlan.runsAsOneTask`: a small one-split scan and
   *    what runs over it in place). Union-find reads that plan inside
   *    its own checkpoint job, so the edge lineage and the labelling run
   *    as one job and no edge leaf is written. The task checks the budget
   *    as it reads: past it, it stops, emits no rows and counts the
   *    overflow (no task fails, so none is retried), and the edges take
   *    the counted regimes;
   *  - counted: the edge list is checkpointed once, its row count
   *    observed in the same job. Within the budget union-find labels that
   *    leaf; otherwise the symmetric distinct view is built and sized.
   *    When it fits one loop partition after all (duplicate or mirrored
   *    edges), union-find labels it; else distributed label propagation
   *    with pointer doubling runs on that many partitions
   *    ([[labelPropagation]]).
   * `maxIter` bounds only the distributed loop (it guards against
   * adversarial topologies); union-find always completes.
   *
   * Beyond-parity: the reference has no component/closure operator — its
   * graph layer stops at BFS levels (reference GT:7-78).
   */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
                          reliable: Boolean = false): DataFrame = {
    // the symmetric view via ONE explode pass, not union(edges, swapped):
    // a self-union evaluates the upstream lineage twice. Built over the
    // edge leaf, so CC callers' expensive lineages (the MinHash signature
    // pipeline, a distributed ordinal) run once in the counted regimes.
    def symmetric(e: DataFrame): DataFrame = e.select(explode(array(
        struct(col("src").as("a"), col("target").as("b")),
        struct(col("target").as("a"), col("src").as("b")))).as("__e__"))
      .select(col("__e__.a").as("a"), col("__e__.b").as("b"))
    val dt = symmetric(edges).schema("a").dataType
    val cast = edges.select(col("src").cast(dt).as("src"), col("target").cast(dt).as("target"))
    val unionFind = unionFindable(dt)
    // the most edges union-find may read: twice that fits one loop partition
    val budget = if (loopNCap(edges) <= 1) Long.MaxValue else loopRows(edges) / 2
    val direct =
      if (unionFind && budget >= 1 && graft.plans.OneJobPlan.runsAsOneTask(cast))
        unionFindLeaf(cast, reliable, budget)
      else None
    direct.getOrElse {
      val (leaf, Seq(edgeRows)) = observedLeaf(cast, reliable, Seq(count(lit(1))))
      if (unionFind && edgeRows <= budget) unionFindReleasing(leaf, reliable)
      else {
        val (sym0, Seq(symRows)) =
          observedLeaf(symmetric(leaf).distinct(), reliable, Seq(count(lit(1))))
        releaseCheckpoints(leaf)
        val n = loopN(sym0, symRows)
        if (unionFind && n == 1) unionFindReleasing(sym0, reliable)
        else labelPropagation(sym0, n, maxIter, reliable)
      }
    }
  }

  /** [[unionFindComponents]] of `edges` as a checkpoint leaf whose
    * statistics are its observed row count; None, the leaf released, when
    * `edges` has more than `budget` rows. */
  private def unionFindLeaf(edges: DataFrame, reliable: Boolean,
                            budget: Long): Option[DataFrame] = {
    val over = edges.sparkSession.sparkContext.longAccumulator
    val (out, Seq(rows)) = observedLeaf(unionFindComponents(edges, budget, over), reliable,
      Seq(count(lit(1))))
    if (over.sum > 0) { releaseCheckpoints(out); None }
    else Some(withRowCount(out, rows))
  }

  /** [[unionFindLeaf]] of the materialized edge leaf `e`, read whole;
    * `e` is released. */
  private def unionFindReleasing(e: DataFrame, reliable: Boolean): DataFrame =
    try unionFindLeaf(e, reliable, Long.MaxValue).get finally releaseCheckpoints(e)

  /** Id types whose Catalyst values are hash-map keys with the loop join's
    * equality; binary, floating-point, collated-string and nested ids
    * take the distributed loop. */
  private def unionFindable(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType |
         BooleanType | DateType | TimestampType | TimestampNTZType |
         _: DecimalType => true
    case _ => false
  }

  /** Components of a two-column edge frame, endpoints of one type, in one
    * task: union-find with path compression over an O(nodes) map, always
    * hanging the larger root under the smaller, so each root is its
    * component's minimum under Catalyst's ordering of the id type — the
    * order the loop's `min` uses (UTF-8 bytes for strings, which UTF-16
    * `compareTo` contradicts). Edge direction, duplicates and self-loops
    * do not change the components. A task that finds more than `budget`
    * edges stops reading, emits no rows and adds 1 to `over`. */
  private def unionFindComponents(edges: DataFrame, budget: Long,
                                  over: org.apache.spark.util.LongAccumulator): DataFrame = {
    val dt = edges.schema(1).dataType
    val rows = edges.queryExecution.toRdd.coalesce(1).mapPartitions { it =>
      import org.apache.spark.sql.catalyst.InternalRow
      val ord = org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(dt)
      val parent = new java.util.HashMap[Any, Any]()
      // map values are always the map's own copies (see `node`)
      def find(x: Any): Any = {
        var root = parent.get(x)
        while (parent.get(root) != root) root = parent.get(root)
        var c = x
        while (c != root) { val up = parent.get(c); parent.put(c, root); c = up }
        root
      }
      def node(r: InternalRow, i: Int): Any = if (r.isNullAt(i)) null else {
        val v = r.get(i, dt)
        if (!parent.containsKey(v)) { val own = InternalRow.copyValue(v); parent.put(own, own) }
        v
      }
      var sawNull = false
      var read = 0L
      while (read < budget && it.hasNext) {
        val r = it.next()
        val (a, b) = (node(r, 0), node(r, 1))
        if (a == null || b == null) sawNull = true
        else {
          val (ra, rb) = (find(a), find(b))
          if (ord.lt(ra, rb)) parent.put(rb, ra) else if (ord.lt(rb, ra)) parent.put(ra, rb)
        }
        read += 1
      }
      if (it.hasNext) { over.add(1L); Iterator.empty }
      else parent.keySet.toArray.iterator.map(k => InternalRow(k, find(k))) ++
        Iterator.fill(if (sawNull) 1 else 0)(InternalRow(null, null))
    }
    org.apache.spark.sql.graft.bridge.internalCreateDataFrame(edges.sparkSession, rows,
      StructType(Seq(StructField("node_id", dt), StructField("component", dt))))
  }

  /** The distributed regime of [[connectedComponents]] on `n` loop
    * partitions over the materialized symmetric view `sym0` (released):
    * hash-min label propagation PLUS pointer doubling. Each round takes
    * the min over neighbor labels (1 hop), then shortcuts every label to
    * its label's label, so label information travels 2^i hops after i
    * rounds and convergence is O(log diameter), not O(diameter). Each
    * round is two joins + one aggregation. */
  private def labelPropagation(sym0: DataFrame, n: Int, maxIter: Int,
                               reliable: Boolean): DataFrame = {
    // ALL loop frames share ONE declared hash layout on n partitions (so
    // the loop's size is pinned to n, whatever the label count): the edge
    // view by its join side `b`, labels/frontier by node_id, so the
    // frontier and labels joins plan ZERO exchanges and the edge view is
    // never shuffled again after setup.
    val sym = checkpointLeaf(sym0.repartition(n, col("b")), reliable, Seq("b"), Some(n))
    releaseCheckpoints(sym0)
    // node set from the `b` side (sym is symmetric, so {a} == {b}): the
    // leaf is already hash(b)-partitioned, making the distinct free.
    // __chg__ marks the labels lowered last round; the seed marks all.
    val seed = checkpointLeaf(
      sym.select(col("b").as("node_id")).distinct()
        .withColumn("component", col("node_id")).withColumn("__chg__", lit(true)),
      reliable, Seq("node_id"), Some(n))
    // delta propagation: only labels lowered LAST round can lower a
    // neighbor this round — a stable neighbor's label was already folded
    // into v's min when it last changed (round 1 seeds with everyone).
    // The changed set collapses geometrically; it is a projection of the
    // hash(node_id)-partitioned label leaf, so its join against the
    // hash(b)-partitioned edge view is exchange-free at any size.
    // One round: hop (min over the neighbor labels that changed last
    // round), then double; __chg__ = lowered.
    def propagate(cur: DataFrame): DataFrame = {
      val frontier = cur.filter(col("__chg__")).select(col("node_id").as("b"), col("component"))
      val nbrMin = sym.join(frontier, Seq("b"), "inner")
        // land the aggregation shuffle directly on the loop layout: a
        // planner-chosen exchange would use the session default count and
        // force a SECOND exchange to co-partition with the label leaf
        .repartition(n, col("a"))
        .groupBy(col("a").as("node_id"))
        .agg(min(col("component")).as("__nbr_min__"))
      // persist, not checkpoint: the self-join below reads `hopped` twice
      // and the cache dedups that within the SAME job that materializes
      // the round — a checkpoint here would add a whole extra eager job
      // per round (measured ~1/3 of CC wall time at toy scale, pure
      // scheduler overhead). Plan depth stays bounded because `cur`
      // is a checkpointed leaf.
      val hopped = graft.core.Caches.track(cur.drop("__chg__").join(nbrMin, Seq("node_id"), "left")
        .select(col("node_id"), col("component").as("__old__"),
          least(col("component"), coalesce(col("__nbr_min__"), col("component")))
            .as("component"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // pointer doubling: component <- component's component. Labels are
      // node ids, so the lookup is a self-join on the hopped labels.
      hopped.join(
          hopped.select(col("node_id").as("component"),
            col("component").as("__cc__")),
          Seq("component"), "left")
        .select(col("node_id"),
          coalesce(col("__cc__"), col("component")).as("component"),
          (coalesce(col("__cc__"), col("component")) < col("__old__")).as("__chg__"))
    }
    // The change-count probe runs every round, including the last allowed
    // one: a loop that exits at maxIter while labels are still moving has
    // NON-MINIMAL labels — components silently split. The layout
    // repartition replaces the labels-side and frontier-side exchanges of
    // the NEXT round, a net win of one exchange per round.
    fixpoint(seed, -1L, maxIter, reliable, reads = Seq(sym), layout = Seq("node_id"),
        size = (_, _) => n)(
      round = (labels, _) => (propagate(labels.last).repartition(n, col("node_id")),
        sum(when(col("__chg__"), 1L).otherwise(0L))),
      // the last allowed round may itself have COMPLETED convergence, so
      // labels still moving at exhaustion are not yet proof of failure:
      // would one more round lower any label? Only then throw. Cost: one
      // extra job, only on exhaustion.
      exhausted = labels => if (graft.core.Caches.persistScoped(
          propagate(labels).filter(col("__chg__")).limit(1).count() > 0))
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds " +
            "(graph diameter too deep for the doubling budget); raise " +
            "maxIter — non-minimal labels would silently split components")
    ).last.drop("__chg__")
  }

  /**
   * DAG ancestor paths from roots (reference GT:80-171
   * `get_forward_edges_only`, simplified to the path-count semantics):
   * per node, the number of distinct paths from any root and the set of
   * direct ancestors, via level-synchronous propagation.
   */
  def forwardPaths(edges: DataFrame, roots: DataFrame, maxIter: Int = 20,
                   reliable: Boolean = false): DataFrame = {
    // loop-invariant edge frame, joined on `src` every round
    val (e, _) = invariantOn(edges.select(col("src"), col("target")), "src", reliable)
    val base = checkpointLeaf(roots.select(col("node_id")).distinct()
      .withColumn("n_paths", lit(1L)), reliable)
    // recompute counts from scratch each round: paths_i(v) = [v is root]
    // + sum over in-edges of paths_{i-1}(u). A frontier-with-anti-join
    // would freeze a node's count at its FIRST discovery depth and drop
    // contributions arriving via longer routes (root->a->b vs root->b).
    // After i rounds counts cover all paths of length <= i; fixpoint on
    // a DAG within maxIter, when the total path count stops moving.
    fixpoint(base, -1L, maxIter, reliable, reads = Seq(e, base))(
      round = { (paths, _) =>
        val contrib = paths.last.join(e, paths.last("node_id") === e("src"), "inner")
          .groupBy(col("target").as("node_id"))
          .agg(sum("n_paths").as("n_paths"))
        (base.select(col("node_id"), col("n_paths"))
          .unionByName(contrib.select(col("node_id"), col("n_paths")))
          .groupBy("node_id").agg(sum("n_paths").as("n_paths")), sum("n_paths"))
      },
      stop = _ == _,
      exhausted = _ => graft.core.Log.warn(s"forwardPaths stopped at maxIter=$maxIter " +
        "before fixpoint; counts for nodes deeper than that are incomplete")
    ).last
  }

  /**
   * Transitive ancestor closure as (node_id, anc) pairs: `anc` reaches
   * `node_id` along directed edges. Pointer-DOUBLED iteration, so after
   * i rounds every path of length ≤ 2^i is covered and convergence is
   * O(log diameter) rounds, not O(diameter) (a one-hop-per-round loop
   * silently truncated graphs deeper than maxIter). Non-convergence at
   * `maxIter` THROWS — a truncated closure is a wrong answer, never a
   * return value. Pairs-not-arrays is the 100 TB shape: the closure
   * shuffles on node_id/anc keys and never builds a per-node array
   * until the caller aggregates.
   *
   * Composition is shortest-path doubling, NOT closure ⋈ closure: each
   * pair tracks its min distance, and a round joins only the pairs at
   * distance EXACTLY 2^i (the frontier) against the closure. Any pair
   * at distance d ∈ (2^i, 2^(i+1)] decomposes as an exact-2^i prefix
   * (a shortest path's 2^i-th node) plus a ≤ 2^i remainder, so
   * completeness per round is unchanged — but each new pair is now
   * produced once per shortest-path midpoint instead of once per ANY
   * midpoint. Full self-composition re-derives every known pair through
   * every intermediate node each round — O(pairs × 2^i) join output in
   * late rounds, measured as a stall on a 4k-node chain — where the
   * frontier form's total join output across all rounds is O(closure).
   */
  def ancestorClosure(edges: DataFrame, maxIter: Int = 20,
                      reliable: Boolean = false): DataFrame = {
    val e = edges.select(col("src"), col("target"))
    // every pair frame lives on an explicit hash(node_id, N) layout,
    // declared on its checkpoint leaf, so the doubling join's frontier
    // side plans ZERO exchanges round over round; N starts at the input's
    // planned sizing (seedN) and adapts to the observed closure size
    // (loopN). The seed's dedup aggregate rides the layout exchange
    // (subset clustering), and the emptiness probe rides the seeding
    // checkpoint job.
    val nSeed = seedN(e)
    val (seed, Seq(rows)) = observedLeaf(
      e.select(col("target").as("node_id"), col("src").as("anc"))
        .repartition(nSeed, col("node_id"))
        .dropDuplicates("node_id", "anc")
        .withColumn("__dist__", lit(1L)),
      reliable, Seq(count(lit(1))), Seq("node_id"), Some(nSeed))
    var pow = 1L // frontier distance composed this round
    fixpoint(seed, rows, maxIter, reliable, layout = Seq("node_id"))(
      round = { (states, n) =>
        val pairs = states.last.select(col("node_id"), col("anc"), col("__dist__"))
        // frontier (m reached-by a at exactly 2^i) ∧ (n reached-by m)
        //   =>  (n reached-by a at 2^i + dist(m, n))
        // q side filters the hash(node_id)-partitioned leaf — its join key
        // IS the layout, no exchange; only the p side moves (by anc).
        val doubled = pairs.filter(col("__dist__") === pow).as("q")
          .join(pairs.as("p"), col("q.node_id") === col("p.anc"))
          .select(col("p.node_id").as("node_id"), col("q.anc").as("anc"),
            (col("p.__dist__") + lit(pow)).as("__dist__"))
        pow *= 2L
        // fused round: ONE exchange lands old pairs ∪ raw candidates on the
        // loop layout, ONE aggregate takes min(dist) and whether the pair
        // existed before (max over the __old__ tag), and the probe counts
        // the new pairs. min(dist) == the old dist for existing pairs —
        // stored distances are exact shortest distances by the doubling
        // induction, and any composed candidate is the length of SOME
        // path, never shorter — so the frame is row-identical to the
        // previous union ∪ anti-join formulation at every round.
        (pairs.withColumn("__old__", lit(true))
          .unionByName(doubled.withColumn("__old__", lit(false)))
          .repartition(n, col("node_id"))
          .groupBy(col("node_id"), col("anc"))
          .agg(min(col("__dist__")).as("__dist__"),
            max(col("__old__")).as("__seen__")),
          sum(when(!col("__seen__"), 1L).otherwise(0L)))
      },
      exhausted = _ => throw new IllegalStateException(
        s"ancestorClosure did not converge in $maxIter doubling rounds " +
          s"(graph diameter > 2^$maxIter or a growing cycle closure); " +
          "raise maxIter — a truncated closure would be silently wrong")
    ).last.select(col("node_id"), col("anc"))
  }

  /**
   * Full `get_forward_edges_only` output contract (reference GT:80-171):
   * the input edges gain three columns keyed on `target` —
   * `<prefix>:src_paths` (sorted, `sep`-joined ancestors reachable along
   * FORWARD edges only), `<prefix>:all_paths` (ancestors along all
   * edges), and `<prefix>:ancestors` ('|'-joined enumeration of every
   * distinct target-to-root path, each path `sep`-joined starting at the
   * target). A "forward" edge is one that does not point back into its
   * own ancestry (src->dest where dest is already an ancestor of src) —
   * the declarative restatement of the reference crawl's cycle guard
   * (`dest not in paths[src]`); on a DAG every edge is forward. The
   * reference's single-pass BFS under-fills nodes whose ancestry grows
   * after their dequeue (order-dependent, flagged WIP there); this
   * computes the fixpoint.
   *
   * Path ENUMERATION is exponential in diamond count by definition —
   * bounded by `maxIter` hops and meant for the small annotated
   * subgraphs the reference applies it to, while the closure columns
   * stay linear-ish and scale.
   */
  def forwardEdgesOnly(edges: DataFrame, prefix: String, sep: String = ",",
                       maxIter: Int = 20, reliable: Boolean = false): DataFrame = {
    val e = edges.select(col("src"), col("target"))
    val allClosure = ancestorClosure(e, maxIter, reliable)
    // forward edge: target is NOT an ancestor of src (and not a self-loop)
    val backEdges = allClosure.select(col("node_id").as("src"), col("anc").as("target"))
    // fwd is loop-invariant and joined on `target` by every enumeration hop
    val (fwd, nF) = invariantOn(e.filter(col("src") =!= col("target"))
      .join(backEdges, Seq("src", "target"), "left_anti"), "target", reliable)
    val fwdClosure = ancestorClosure(fwd, maxIter, reliable)

    val srcPaths = fwdClosure.groupBy(col("node_id").as("target"))
      .agg(concat_ws(sep, sort_array(collect_set(col("anc")))).as(s"$prefix:src_paths"))
    val allPaths = allClosure.groupBy(col("node_id").as("target"))
      .agg(concat_ws(sep, sort_array(collect_set(col("anc")))).as(s"$prefix:all_paths"))

    // ---- path enumeration over forward edges ----
    // active partial paths: (dest, head, path); a path completes when its
    // head has no parents AT ALL (reference: nodes with parents but none
    // forward produce nothing — the cycle-guard recursion dead-ends).
    // Each hop is ONE checkpointed frame carrying both the parent
    // extension and the has-any-parents flag; `ended` and the next
    // frontier are lazy filters over that materialized leaf. The hop
    // leaves are kept until the output aggregates are materialized,
    // because the completed-path union reads them.
    // loop-invariant, joined on `head` every hop: checkpointed ONCE on
    // fwd's layout, so the per-hop parent-flag join plans zero exchanges
    val hasParents = checkpointLeaf(
      e.select(col("target").as("head")).repartition(nF, col("head"))
        .dropDuplicates("head").withColumn("__hp__", lit(true)),
      reliable, Seq("head"), Some(nF))
    // The seed frontier aliases `target` three ways from a frame laid out
    // hash(target, nF); rows never move, so the leaf provably carries
    // hash(head, nF) — declared so hop 1's three-way join on head is
    // exchange-free on every side. Its count is the emptiness probe.
    val (seed, Seq(nActive)) = observedLeaf(
      edges.select(col("target")).repartition(nF, col("target")).distinct()
        .select(col("target").as("dest"), col("target").as("head"),
          col("target").cast(StringType).as("path")),
      reliable, Seq(count(lit(1))), Seq("head"), Some(nF))
    val hops = fixpoint(seed, nActive, maxIter, reliable, reads = Seq(fwd, hasParents),
        keep = true)(
      round = { (states, _) =>
        val active = if (states.size == 1) seed else states.last.filter(col("__par__").isNotNull)
          .select(col("dest"), col("__par__").as("head"),
            concat(col("path"), lit(sep), col("__par__")).as("path"))
        (active.join(fwd.select(col("target").as("head"), col("src").as("__par__")),
            Seq("head"), "left")
          .join(hasParents, Seq("head"), "left")
          .select(col("dest"), col("path"), col("__par__"), col("__hp__")),
          sum(when(col("__par__").isNotNull, 1L).otherwise(0L)))
      },
      // fwd is cycle-free by construction (every cycle edge is a back
      // edge), so open paths after maxIter hops are forward paths longer
      // than that — enumeration would silently drop them; refuse.
      exhausted = _ => throw new IllegalStateException(
        s"forwardEdgesOnly path enumeration exceeded maxIter=$maxIter hops " +
          "with paths still open; raise maxIter or use the closure columns"))
    val complete = hops.tail.map(_.filter(col("__par__").isNull && col("__hp__").isNull)
        .select(col("dest"), col("path"))).reduceOption(_ unionByName _).getOrElse {
      val s = edges.sparkSession
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("dest", StringType), StructField("path", StringType))))
    }
    // materialize all three output aggregates in ONE checkpointed job (a
    // tagged union — they share the (target, string) shape), then free
    // every iteration frame: the returned lazy plan must only reference
    // blocks that stay alive.
    val aggs = checkpointLeaf(
      srcPaths.select(col("target"), lit("sp").as("__k__"),
          col(s"$prefix:src_paths").as("__v__"))
        .unionByName(allPaths.select(col("target"), lit("ap").as("__k__"),
          col(s"$prefix:all_paths").as("__v__")))
        .unionByName(complete.groupBy(col("dest").as("target"))
          .agg(concat_ws("|", sort_array(collect_set(col("path")))).as("__v__"))
          .select(col("target"), lit("an").as("__k__"), col("__v__"))),
      reliable)
    (hops ++ Seq(fwdClosure, allClosure)).foreach(releaseCheckpoints)
    def part(k: String, name: String): DataFrame =
      aggs.filter(col("__k__") === k).select(col("target"), col("__v__").as(name))

    edges.join(part("sp", s"$prefix:src_paths"), Seq("target"), "left")
      .join(part("ap", s"$prefix:all_paths"), Seq("target"), "left")
      .join(part("an", s"$prefix:ancestors"), Seq("target"), "left")
      .na.fill("", Seq(s"$prefix:src_paths", s"$prefix:all_paths", s"$prefix:ancestors"))
  }

  /**
   * Time-respecting ancestor closure (reference GT:173-212
   * `get_time_based_forward_edges_only` — a sequential fold over
   * ts-sorted edges, warned there as "hard to understand"): the
   * declarative semantics it approximates is TEMPORAL reachability —
   * `<prefix>:src_paths` lists ancestors u with a path u->...->target
   * whose edge timestamps are non-decreasing along the path;
   * `<prefix>:all_paths` lists plain (time-ignoring) reachability, which
   * is what the reference's repeated re-passes converge toward.
   * Self-loops are dropped, as in the reference. State is (node, anc,
   * first-ts, last-ts) path segments, Pareto-pruned and pointer-doubled
   * (see inline comments) — fixpoint in O(log path-length) rounds, and
   * non-convergence at maxIter throws rather than truncating.
   */
  def timeBasedForwardEdgesOnly(edges: DataFrame, tsCol: String, prefix: String,
                                sep: String = ",", maxIter: Int = 20,
                                reliable: Boolean = false): DataFrame = {
    val e = edges.filter(col("src") =!= col("target"))
      .select(col("src"), col("target"), col(tsCol).cast(LongType).as("__ts__"))
    // State: (node_id, anc, __f__, __l__) — a time-respecting path
    // anc -> ... -> node_id whose FIRST edge ts is __f__ and LAST is
    // __l__. Tracking both endpoints makes segments COMPOSABLE, so the
    // closure pointer-doubles (O(log path-length) rounds).
    // Pareto prune: (f', l') dominates (f, l) when f' >= f && l' <= l —
    // the dominating segment composes everywhere the dominated one does
    // and yields a dominating result, so dropping dominated rows keeps
    // the closure exact while bounding state per (node, anc). `extra`
    // aggregates ride the (node_id, anc, __f__) aggregate.
    def prune(df: DataFrame, extra: Column*): DataFrame = {
      val byF = df.groupBy("node_id", "anc", "__f__")
        .agg(min("__l__").as("__l__"), extra: _*)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("node_id", "anc").orderBy(col("__f__").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      byF.withColumn("__dom__", min("__l__").over(w))
        .filter(col("__dom__").isNull || col("__l__") < col("__dom__"))
        .drop("__dom__")
    }
    // pair frames live on an explicit hash(node_id, N) layout declared
    // on their checkpoint leaves, so the composition join's p side (keyed
    // node_id) never re-shuffles; prune's (node_id, anc, __f__) aggregate
    // and (node_id, anc) window both ride the layout exchange (subset
    // clustering). The initial emptiness probe rides the seeding
    // checkpoint job.
    val nSeed = seedN(e)
    val (seed, Seq(rows)) = observedLeaf(
      prune(e.select(col("target").as("node_id"),
        col("src").as("anc"), col("__ts__").as("__f__"),
        col("__ts__").as("__l__")).repartition(nSeed, col("node_id"))),
      reliable, Seq(count(lit(1))), Seq("node_id"), Some(nSeed))
    val closure = fixpoint(seed, rows, maxIter, reliable, layout = Seq("node_id"))(
      round = { (states, n) =>
        val pairs = states.last.select(col("node_id"), col("anc"), col("__f__"), col("__l__"))
        // compose: p = anc -> v (f1, l1), q = v -> w (f2 >= l1, l2)
        //          =>  anc -> w (f1, l2)
        val composed = pairs.as("p").join(pairs.as("q"),
            col("p.node_id") === col("q.anc") && col("q.__f__") >= col("p.__l__"))
          .select(col("q.node_id").as("node_id"), col("p.anc").as("anc"),
            col("p.__f__").as("__f__"), col("q.__l__").as("__l__"))
        // content-based fixpoint: both sides are Pareto sets, so any change
        // surfaces as a surviving row that pairs lacks (a pure removal can
        // only be caused by a new dominating row). The freshness test rides
        // prune's own aggregate: __oldl__ = the OLD row's __l__ for this
        // (node_id, anc, __f__) group (pairs is unique on that key,
        // so min-over-old reads exactly that row, null when absent), and a
        // surviving row is fresh iff __oldl__ <=> __l__ fails — identical to
        // "not found by the old four-key left join" because min(__l__) over
        // old ∪ candidates equals the old value exactly when the old row
        // attains the minimum, i.e. when the row survives unchanged.
        val unioned = pairs.withColumn("__old__", lit(true))
          .unionByName(composed.withColumn("__old__", lit(false)))
          .repartition(n, col("node_id"))
        (prune(unioned, min(when(col("__old__"), col("__l__"))).as("__oldl__"))
          .select(col("node_id"), col("anc"), col("__f__"), col("__l__"),
            (!(col("__oldl__") <=> col("__l__"))).as("__fresh__")),
          sum(when(col("__fresh__"), 1L).otherwise(0L)))
      },
      exhausted = _ => throw new IllegalStateException(
        s"timeBasedForwardEdgesOnly did not converge in $maxIter doubling " +
          "rounds; raise maxIter — a truncated temporal closure would be " +
          "silently wrong")
    ).last
    val timePaths = closure.groupBy(col("node_id").as("target"))
      .agg(concat_ws(sep, sort_array(collect_set(col("anc")))).as(s"$prefix:src_paths"))
    val allPaths = ancestorClosure(e, maxIter, reliable)
      .groupBy(col("node_id").as("target"))
      .agg(concat_ws(sep, sort_array(collect_set(col("anc")))).as(s"$prefix:all_paths"))
    edges.join(timePaths, Seq("target"), "left")
      .join(allPaths, Seq("target"), "left")
      .na.fill("", Seq(s"$prefix:src_paths", s"$prefix:all_paths"))
  }

  /**
   * Per-edge retention filter around annotated "detection" vertices
   * (reference GT:447-485 `split_graph_filter_func`, lifted from a
   * per-row callback to one broadcast-joined predicate). `retained` is
   * (node_id, ts_min, ts_max). An edge survives when: either endpoint
   * passes `specialNodeFilter`; neither endpoint is retained; both are
   * retained; or the edge's ts respects the retained endpoint's window —
   * for a retained TARGET the edge must not be after its ts_max (edges
   * INTO a detection happen before it ends), for a retained SRC not
   * before its ts_min (edges OUT of a detection happen after it starts).
   */
  def splitGraphFilter(edges: DataFrame, tsCol: String, retained: DataFrame,
                       specialNodeFilter: Column => Column): DataFrame = {
    val rSrc = broadcast(retained.select(col("node_id").as("src"),
      col("ts_min").as("__src_min__"), lit(true).as("__src_ret__")))
    val rTgt = broadcast(retained.select(col("node_id").as("target"),
      col("ts_max").as("__tgt_max__"), lit(true).as("__tgt_ret__")))
    val ts = col(tsCol).cast(LongType)
    edges.join(rSrc, Seq("src"), "left").join(rTgt, Seq("target"), "left")
      .filter(
        specialNodeFilter(col("src")) || specialNodeFilter(col("target")) ||
        (col("__src_ret__").isNull && col("__tgt_ret__").isNull) ||
        (col("__src_ret__").isNotNull && col("__tgt_ret__").isNotNull) ||
        (col("__tgt_ret__").isNotNull &&
          (col("__tgt_max__").isNull || ts <= col("__tgt_max__").cast(LongType))) ||
        (col("__src_ret__").isNotNull &&
          (col("__src_min__").isNull || ts >= col("__src_min__").cast(LongType))))
      .drop("__src_min__", "__src_ret__", "__tgt_max__", "__tgt_ret__")
  }

  /**
   * Time-order pruning of adjacent edge pairs (reference GT:486-547
   * `apply_time_order_based_filter` — unrunnable as written there:
   * references undefined symbols; treated as spec). For every adjacent
   * pair left:(a->b) / right:(b->c), a pairing is CONSISTENT when
   * left.ts_min <= right.ts_max. An edge all of whose pairings are
   * inconsistent is a candidate; the side to drop follows the
   * reference's decision table — strict ordering always drops the right
   * edge; otherwise edges touching a retained ("detection") vertex win
   * over those that don't, then the side whose pairings are all
   * inconsistent drops. Everything is equi-joins + groupBy on edge keys.
   */
  def applyTimeOrderBasedFilter(edges: DataFrame, tsCol: String,
                                retainedIds: Seq[String],
                                strictOrdering: Boolean = false): DataFrame = {
    // minMax feeds both sides of the adjacency self-join; pairs feeds
    // three consumers (left flags, right flags, the judged filter) —
    // persist both so the per-edge aggregate runs once and the adjacency
    // join once, instead of 2x and 3x. Pure caches, released by the
    // caller's Caches scope.
    val minMax = graft.core.Caches.track(
      edges.groupBy(col("src"), col("target"))
        .agg(min(col(tsCol).cast(LongType)).as("ts_min"),
          max(col(tsCol).cast(LongType)).as("ts_max"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val left = minMax.select(col("src").as("l_src"), col("target").as("l_tgt"),
      col("ts_min").as("l_min"), col("ts_max").as("l_max"))
    val right = minMax.select(col("src").as("r_src"), col("target").as("r_tgt"),
      col("ts_min").as("r_min"), col("ts_max").as("r_max"))
    val pairs = graft.core.Caches.track(
      left.join(right, col("l_tgt") === col("r_src"))
        .withColumn("__ok__", (col("l_min") <= col("r_max")).cast(IntegerType))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val leftFlag = pairs.groupBy(col("l_src"), col("l_tgt"))
      .agg(max("__ok__").as("__l_any_ok__"))
    val rightFlag = pairs.groupBy(col("r_src"), col("r_tgt"))
      .agg(max("__ok__").as("__r_any_ok__"))
    val isDetect = (a: Column, b: Column) =>
      a.isin(retainedIds: _*) || b.isin(retainedIds: _*)
    val judged = pairs.filter(col("__ok__") === 0)
      .join(leftFlag, Seq("l_src", "l_tgt"))
      .join(rightFlag, Seq("r_src", "r_tgt"))
      .filter(col("__l_any_ok__") === 0 || col("__r_any_ok__") === 0)
      .withColumn("__l_det__", isDetect(col("l_src"), col("l_tgt")))
      .withColumn("__r_det__", isDetect(col("r_src"), col("r_tgt")))
      .withColumn("__side__",
        when(lit(strictOrdering), "right")
          .when(col("__l_det__") && col("__r_det__"), "")
          .when(col("__l_det__"), "right")
          .when(col("__r_det__"), "left")
          .when(col("__l_any_ok__") === 0, "left")
          .otherwise("right"))
      .filter(col("__side__") =!= "")
    val excluded = judged.select(
        when(col("__side__") === "left", col("l_src")).otherwise(col("r_src")).as("src"),
        when(col("__side__") === "left", col("l_tgt")).otherwise(col("r_tgt")).as("target"))
      .distinct()
    edges.join(excluded, Seq("src", "target"), "left_anti")
  }
}
