package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.cosine

/** IVF (inverted-file) approximate nearest neighbor — the
  * coarse-quantizer scale path next to the sign-LSH one in
  * [[Similarity]]:
  *
  *  1. TRAIN: spherical k-means over the corpus. Assignment is fully
  *     distributed (each executor scores its rows against the broadcast
  *     centroid model); only the k×dims centroid MODEL ever reaches the
  *     driver between iterations — the same contract as Spark MLlib's
  *     k-means, not a data collect.
  *  2. INDEX: each corpus vector belongs to its nearest centroid's
  *     inverted list (a plain `cluster` column — at 100 TB this is a
  *     partition/bucket key, so probing a cluster is a pruned read, not
  *     a scan).
  *  3. QUERY: each query probes its `nprobe` nearest centroids;
  *     candidates are the corpus rows of those clusters (equality join
  *     on the cluster id — no cross join); exact cosine + partial
  *     top-k aggregation rank them.
  *
  * Determinism: centroid seeding orders by `xxhash64(vec_id)` (seeded,
  * data-independent) and ties in assignment break toward the smaller
  * cluster index, so the index is reproducible run to run.
  */
object Ivf {

  /** Driver-side centroid model: cluster j = centroids(j). */
  type Model = Seq[Seq[Double]]

  /** Cosine of `vec` against one literal centroid. */
  private def centroidSim(vec: Column, centroid: Seq[Double]): Column =
    cosine(vec, typedLit(centroid))

  /** Array of sims against every centroid. */
  private[operators] def simsExpr(vec: Column, model: Model): Column =
    array(model.map(c => centroidSim(vec, c)): _*)

  // ------------------------------------------------------------------
  // Coarse quantizers: the assignment/probe abstraction
  // ------------------------------------------------------------------

  /** A coarse quantizer maps a vector to fine-cluster ids. Two
    * implementations with one contract:
    *
    *  - [[FlatQuantizer]] scores ALL k centroids per row (exact
    *    nearest-centroid; O(k·d) per row) as a native broadcast loop
    *    — one argmax pass, no k-element sims array in flight, and no
    *    k-literal plan (whose single CSE'd codegen method trips
    *    Janino's 64 KB limit at k ≈ 10³ and fell back to interpreted;
    *    see [[FlatLitMax]]). Right while k is small;
    *  - [[TwoLevelQuantizer]] descends a coarse→fine hierarchy (score
    *    g supers, then only the `nsuper` nearest supers' children) —
    *    O((g + nsuper·k/g)·d) per row with the model in TWO plan
    *    literals, the shape that survives k ∝ N (the SemDeDup
    *    discipline makes k grow with the corpus: at 100 TB and
    *    executor-sized clusters k reaches 10⁵-10⁶, where per-row
    *    O(k·d) probing and k-literal plans both collapse).
    *
    * `probe` orders by (similarity desc, fine id asc) — for any vector
    * whose true nearest centroids' supers rank within `nsuper`, the
    * two implementations agree exactly (pinned: probing ALL supers
    * reproduces the flat ranking bit-for-bit, because both negate the
    * same cosine and tie-break on the id).
    */
  sealed trait Quantizer {
    /** Fine-cluster count. */
    def k: Int
    /** Nearest fine-cluster id (int; ties → smallest id). */
    def assign(vec: Column): Column
    /** The `nprobe` nearest fine-cluster ids, best first. */
    def probe(vec: Column, nprobe: Int): Column
    /** Similarity to the best REACHABLE centroid (the assignment-
      * quality statistic; for the flat quantizer this is the global
      * best).
      */
    def bestSim(vec: Column): Column
  }

  /** Score-all-centroids quantizer — the small-k path (identical
    * expressions to [[assignExpr]]/[[probeExpr]]).
    */
  /** Size above which the flat quantizer serves through the native
    * broadcast-loop descent instead of k per-centroid literal
    * expressions. Two measurements set it to 0 (loop ALWAYS):
    *  - correctness of compilation: whole-stage codegen folds the
    *    k-literal array into ONE subexpression-elimination method,
    *    which Janino refuses past its 64 KB limit (k = 1024 × d = 64
    *    trips it; the stage then silently runs interpreted — SURVEY
    *    §20.7 #2);
    *  - speed: the loop wins at EVERY k measured, including the
    *    registry's smallest (k = 16: dedup_semantic 1.07 → 0.46 s,
    *    sim_topk_ivf 2.04 → 1.56 s at sf0.1; k = 1024: 3.52 → 0.49 s)
    *    — it never materializes the k-element sims array that
    *    array_position/array_max then rescan.
    * The literal formulation ([[assignExpr]]/[[probeExpr]]) stays as
    * the executable REFERENCE the equivalence specs pin the loop
    * against (bit-identical ranking, same tie-breaks).
    */
  private[operators] val FlatLitMax = 0

  final case class FlatQuantizer(model: Model) extends Quantizer {
    require(model.nonEmpty, "empty centroid model")
    override def k: Int = model.size

    /** Degenerate one-super hierarchy over the WHOLE model: with a
      * single super every probe descends into all k fine centroids, so
      * the native loop ranks exactly like the literal formulation
      * (same cosine accumulation, same (sim desc, id asc) tie-break —
      * the nsuper = supers.size equivalence the two-level spec pins).
      * Fine ids are the flat indices, so answers are positionally
      * identical too. Built lazily once per quantizer instance.
      */
    @transient private lazy val bcFlat
        : org.apache.spark.broadcast.Broadcast[
          graft.functions.TwoLevelQuantize.Model] =
      org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(
        new graft.functions.TwoLevelQuantize.Model(
          Array(model.head.toArray),
          Array(Array.range(0, model.size)),
          Array(model.map(_.toArray).toArray)))

    override def assign(vec: Column): Column =
      if (k <= FlatLitMax) assignExpr(vec, model)
      else element_at(
        graft.functions.TwoLevelQuantize.probeCol(vec, bcFlat, 1, 1), 1)
    override def probe(vec: Column, nprobe: Int): Column =
      if (k <= FlatLitMax) probeExpr(vec, model, nprobe)
      else graft.functions.TwoLevelQuantize.probeCol(vec, bcFlat, 1, nprobe)
    override def bestSim(vec: Column): Column =
      if (k <= FlatLitMax) array_max(simsExpr(vec, model))
      else graft.functions.TwoLevelQuantize.bestSimCol(vec, bcFlat, 1)
  }

  /** Coarse→fine two-level quantizer: `supers(s)` is a super-centroid,
    * `children(s)` its fine clusters as (fine id, centroid) pairs — a
    * PARTITION of the fine model, so candidate lists never repeat an
    * id. Probing scores the g supers, descends into the `nsuper`
    * nearest, and ranks only their children: per-row work
    * O((g + nsuper·k/g)·d) = O(√k·d) at g = √k, vs the flat form's
    * O(k·d) with k codegen'd cosine calls (compilation itself dies at
    * k ≳ 10⁴). The flat path stays the right choice for SMALL k
    * ([[quantizer]] picks by size).
    *
    * Execution (r16 second pass): the descent runs as a codegen'd
    * native expression over an EXPLICIT broadcast of the model
    * ([[graft.functions.TwoLevelQuantize]]) — the plan carries a
    * broadcast handle, not O(k·d) literal bytes (at k = 10⁵ × d = 512
    * the literal form serializes ~400 MB per stage and converts on the
    * driver), and the per-element HOF interpretation of the first-pass
    * formulation is gone.
    *
    * Approximation contract: a fine centroid is reachable only through
    * its super; `nsuper` bounds the descent. With `nsuper = supers
    * .size` the ranking equals the flat quantizer's exactly (same
    * cosine accumulation order, same (sim desc, id asc) tie-break) —
    * the equivalence spec pins that.
    */
  final case class TwoLevelQuantizer(supers: Model,
      children: Seq[Seq[(Int, Seq[Double])]],
      nsuper: Int) extends Quantizer {
    require(supers.nonEmpty && supers.size == children.size,
      s"supers=${supers.size} must pair with children=${children.size}")
    require(children.forall(_.nonEmpty),
      "empty super-clusters must be dropped at build (twoLevel does)")
    require(nsuper >= 1 && nsuper <= supers.size,
      s"nsuper=$nsuper must be in [1, ${supers.size}]")

    override val k: Int = children.map(_.size).sum

    /** Model broadcast, built lazily ONCE per quantizer instance on
      * first expression construction (driver-side — `SparkSession
      * .active` is the session building the plan). Transient: the
      * quantizer itself never ships to executors, only the broadcast
      * handle inside the expression does.
      */
    @transient private lazy val bcModel
        : org.apache.spark.broadcast.Broadcast[
          graft.functions.TwoLevelQuantize.Model] =
      org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(
        new graft.functions.TwoLevelQuantize.Model(
          supers.map(_.toArray).toArray,
          children.map(_.map(_._1).toArray).toArray,
          children.map(_.map(_._2.toArray).toArray).toArray))

    override def assign(vec: Column): Column =
      element_at(probe(vec, 1), 1)

    override def probe(vec: Column, nprobe: Int): Column =
      graft.functions.TwoLevelQuantize.probeCol(vec, bcModel, nsuper,
        nprobe)

    override def bestSim(vec: Column): Column =
      graft.functions.TwoLevelQuantize.bestSimCol(vec, bcModel, nsuper)
  }

  /** Group a fine model's k centroids into a two-level hierarchy:
    * driver-side spherical k-means OVER THE CENTROIDS (k is
    * model-sized — this never touches the corpus), deterministic
    * stride seeding, ties toward the smaller super. Empty supers are
    * dropped; `nsuper` is clamped to the survivors.
    *
    * Extreme-k posture (VERDICT r15 forward item): Lloyd rounds train
    * the supers on at most `trainMax` fine centroids (deterministic
    * stride sample — for k ≤ trainMax the sample IS the model and the
    * result is bit-identical to the unsampled algorithm), so training
    * cost is O(iters · trainMax · √k · d) — flat in k past the cap —
    * instead of O(iters · k · √k · d), which at k = 10⁵ × d = 512 is
    * ~10¹¹ flops of single-threaded driver work. The ONE remaining
    * full pass (every fine centroid must still get a parent) runs
    * parallel over driver cores; it is per-element independent, so
    * parallelism cannot change the result (each element's tie-break
    * stays first-wins over the same super order).
    */
  def twoLevel(fine: Model, groups: Int, iters: Int = 10,
      nsuper: Int = 2, trainMax: Int = 8192): TwoLevelQuantizer = {
    require(fine.nonEmpty, "empty fine model")
    require(groups >= 1 && groups <= fine.size,
      s"groups=$groups must be in [1, ${fine.size}]")
    require(trainMax >= 1, s"trainMax=$trainMax must be >= 1")
    val vecs = fine.map(_.toArray).toArray
    // stride sample preserves the seeding identity: with sample == vecs
    // the seeds below equal the historical vecs(g·k/groups) exactly
    val sample: Array[Array[Double]] =
      if (vecs.length <= trainMax) vecs
      else Array.tabulate(math.max(groups, trainMax))(i =>
        vecs((i.toLong * vecs.length / math.max(groups, trainMax)).toInt))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    var supers = Array.tabulate(groups)(g =>
      sample((g.toLong * sample.length / groups).toInt).clone())
    def assignArr(xs: Array[Array[Double]]): Array[Int] = {
      val out = new Array[Int](xs.length)
      // snapshot the captured var: Scala closures read a captured var
      // through an ObjectRef indirection on EVERY access — hoisting to
      // a local val keeps the hot loop on a direct array reference
      val sup = supers
      val body: java.util.function.IntConsumer = { (i: Int) =>
        val v = xs(i)
        var best = 0; var bestS = Double.NegativeInfinity; var s = 0
        while (s < sup.length) {
          val sim = cos(v, sup(s))
          if (sim > bestS) { bestS = sim; best = s }
          s += 1
        }
        out(i) = best
      }
      // parallel only when the flop count warrants fork-join overhead
      if (xs.length.toLong * sup.length * vecs(0).length > (1L << 24))
        java.util.stream.IntStream.range(0, xs.length).parallel().forEach(body)
      else java.util.stream.IntStream.range(0, xs.length).forEach(body)
      out
    }
    for (_ <- 1 to iters) {
      val a = assignArr(sample)
      // means stay sequential in index order — bit-deterministic fp sums
      val sums = Array.fill(supers.length)(new Array[Double](vecs(0).length))
      val counts = new Array[Int](supers.length)
      sample.indices.foreach { i =>
        val g = a(i); counts(g) += 1
        var d = 0
        while (d < sample(i).length) { sums(g)(d) += sample(i)(d); d += 1 }
      }
      supers = Array.tabulate(supers.length)(g =>
        if (counts(g) > 0) sums(g).map(_ / counts(g)) else supers(g))
    }
    val finalAssign = assignArr(vecs)
    // positional access below — `fine` may be a List (Seq.tabulate),
    // where fine(i) is O(i) and the grouping walk turns O(k²)
    val fineIdx = fine.toIndexedSeq
    val grouped = supers.indices.map(g =>
      finalAssign.indices.filter(finalAssign(_) == g)
        .map(i => (i, fineIdx(i))).toSeq)
    val kept = supers.indices.filter(grouped(_).nonEmpty)
    TwoLevelQuantizer(
      kept.map(g => supers(g).toSeq),
      kept.map(grouped),
      math.min(math.max(1, nsuper), kept.size))
  }

  /** Pick the quantizer by model size: flat while every-row-scores-k
    * stays cheap, two-level (g ≈ √k supers) past `flatMax` — the knee
    * where per-row probe cost and plan size both matter.
    */
  def quantizer(model: Model, flatMax: Int = 1024,
      nsuper: Int = 4): Quantizer =
    if (model.size <= flatMax) FlatQuantizer(model)
    else twoLevel(model, math.ceil(math.sqrt(model.size.toDouble)).toInt,
      iters = 10, nsuper = nsuper)

  /** Broadcast budget for quantizer models (bytes): past it,
    * [[trainAuto]] trains the SHARDED (DataFrame) family instead of a
    * broadcast hierarchy. Default 256 MiB — comfortably inside every
    * executor profile, an order of magnitude under the 4 GB broadcast
    * wall the k ∝ N discipline reaches at k = 10⁶ × d = 512.
    */
  val BroadcastBudgetKey = "spark.graft.ann.broadcastBudgetBytes"
  val BroadcastBudgetDefault: Long = 256L << 20

  /** One trained coarse quantizer regardless of family — what
    * [[trainAuto]] hands back so callers need not know about the
    * broadcast wall: the broadcast families (flat / two-level) and the
    * sharded DataFrame family answer the same three operations with
    * the same output contracts.
    */
  sealed trait TrainedQuantizer {
    /** Fine-cluster count. */
    def k: Int
    /** One (idCol, cluster) row per input row. */
    def assignments(rows: DataFrame, idCol: String = "vec_id",
        vecCol: String = "embedding"): DataFrame
    /** Build/rebuild the cluster-partitioned persisted index. */
    def buildIndex(spark: org.apache.spark.sql.SparkSession,
        corpus: DataFrame, root: String, idCol: String = "vec_id",
        vecCol: String = "embedding",
        pq: Option[graft.functions.Pq.Codebook] = None)
        : graft.catalog.SnapshotTable
    /** Probe a [[buildIndex]] table — output contract identical to
      * [[Similarity.bruteForceTopK]]: (q_id, n_id, sim, rank).
      */
    def topK(index: graft.catalog.SnapshotTable, queries: DataFrame,
        k: Int, nprobe: Int, idCol: String = "vec_id",
        vecCol: String = "embedding"): DataFrame
  }

  /** Model fits the broadcast budget: a [[Quantizer]] (flat or
    * two-level by [[quantizer]]'s size knee) behind the shared
    * operations.
    */
  final case class BroadcastTrained(q: Quantizer) extends TrainedQuantizer {
    override def k: Int = q.k
    override def assignments(rows: DataFrame, idCol: String,
        vecCol: String): DataFrame =
      rows.select(col(idCol), q.assign(col(vecCol)).as("cluster"))
    override def buildIndex(spark: org.apache.spark.sql.SparkSession,
        corpus: DataFrame, root: String, idCol: String, vecCol: String,
        pq: Option[graft.functions.Pq.Codebook])
        : graft.catalog.SnapshotTable =
      Ivf.buildIndex(spark, corpus, q, root, idCol, vecCol, pq)
    override def topK(index: graft.catalog.SnapshotTable,
        queries: DataFrame, k: Int, nprobe: Int, idCol: String,
        vecCol: String): DataFrame =
      topKWithIndex(index, queries, q, k, nprobe, idCol, vecCol)
  }

  /** Model past the broadcast budget: the [[trainSharded]] family —
    * fine centroids stay a DataFrame, assignment/probing run the join
    * descent, nothing O(k·d) on the driver, in a plan, or broadcast.
    */
  final case class ShardedTrained(supers: Model, centroids: DataFrame,
      nsuper: Int) extends TrainedQuantizer {
    override lazy val k: Int =
      centroids.select(col("fine_id")).distinct().count().toInt
    override def assignments(rows: DataFrame, idCol: String,
        vecCol: String): DataFrame =
      assignSharded(rows, supers, centroids, nsuper, idCol, vecCol)
    override def buildIndex(spark: org.apache.spark.sql.SparkSession,
        corpus: DataFrame, root: String, idCol: String, vecCol: String,
        pq: Option[graft.functions.Pq.Codebook])
        : graft.catalog.SnapshotTable =
      buildIndexSharded(spark, corpus, supers, centroids, nsuper, root,
        idCol, vecCol, pq)
    override def topK(index: graft.catalog.SnapshotTable,
        queries: DataFrame, k: Int, nprobe: Int, idCol: String,
        vecCol: String): DataFrame =
      topKSharded(index, queries, supers, centroids, k, nsuper, nprobe,
        idCol, vecCol)
  }

  /** Train a coarse quantizer, picking the FAMILY by estimated model
    * size against the session's broadcast budget
    * ([[BroadcastBudgetKey]], bytes): k·d·8 within budget trains the
    * broadcast path ([[train]] + [[quantizer]]'s flat/two-level knee);
    * past it, [[trainSharded]] — so callers scale k with the corpus
    * (the SemDeDup discipline) without knowing where the 4 GB
    * broadcast wall is (VERDICT r16 #5). `budgetOverride` keeps the
    * explicit choice available (`Some(Long.MaxValue)` forces
    * broadcast, `Some(0)` forces sharded); dimensionality probes ONE
    * row.
    */
  def trainAuto(corpus: DataFrame, k: Int, iters: Int = 10,
      nsuper: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding", rowCountHint: Option[Long] = None,
      budgetOverride: Option[Long] = None): TrainedQuantizer = {
    val budget = budgetOverride.getOrElse(
      corpus.sparkSession.conf.getOption(BroadcastBudgetKey)
        .map(_.toLong).getOrElse(BroadcastBudgetDefault))
    val d = corpus.select(size(col(vecCol)).as("d")).head.getInt(0)
    val modelBytes = k.toLong * d * 8L
    if (modelBytes <= budget)
      BroadcastTrained(quantizer(train(corpus, k, iters, idCol, vecCol),
        nsuper = nsuper))
    else {
      val (supers, cents) = trainSharded(corpus, k, iters, idCol, vecCol,
        rowCountHint = rowCountHint)
      ShardedTrained(supers, cents, nsuper)
    }
  }

  /** Nearest-centroid index (0-based; ties → smallest index).
    *
    * `simsExpr` appears twice in the tree, but both occurrences sit in
    * ONE projection, where whole-stage codegen's subexpression
    * elimination evaluates the array once — measured ~2× faster than
    * the single-reference alternative of ranking through
    * [[probeExpr]] at depth 1 (whose `transform`/`array_sort` HOFs run
    * interpreted).
    */
  def assignExpr(vec: Column, model: Model): Column =
    (array_position(simsExpr(vec, model), array_max(simsExpr(vec, model))) - 1)
      .cast("int")

  /** The `nprobe` nearest centroid indexes, best first. */
  def probeExpr(vec: Column, model: Model, nprobe: Int): Column = {
    val sims = simsExpr(vec, model)
    val ranked = array_sort(transform(sequence(lit(0), lit(-1) + size(sims)),
      j => struct((element_at(sims, j + 1) * lit(-1.0)).as("neg"), j.as("j"))))
    transform(slice(ranked, 1, nprobe), x => x.getField("j"))
  }

  /** Spherical k-means: deterministic hash-ordered seeding, `iters`
    * Lloyd rounds (assign distributed, means via a (cluster, dim)
    * aggregation — two narrow shuffles per round, model-sized collect).
    * Empty clusters keep their previous centroid.
    *
    * Training reads at most `sampleMax` vectors, chosen by the same
    * deterministic hash order as seeding (a bounded `TakeOrdered`, not
    * a full sort) — the standard IVF practice: centroid quality needs a
    * representative sample, not the corpus, so training cost stays flat
    * as the corpus grows to 100 TB while assignment stays full-corpus.
    */
  def train(corpus: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sampleMax: Int = 100000): Model = {
    require(sampleMax >= k, s"sampleMax=$sampleMax must be >= k=$k")
    // repartition AFTER the bounded TakeOrdered: limit() materializes
    // as ONE partition, and without the re-split every Lloyd round —
    // the expensive assign + means stages below — would run as a
    // single task regardless of cluster size (measured: the 512-dim
    // wide corpus at sf1 went from >18 min to seconds with the
    // parallelism restored)
    val sample = corpus
      .orderBy(xxhash64(col(idCol).cast("string")), col(idCol))
      .limit(sampleMax)
      .select(col(idCol), col(vecCol))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    var model: Model = sample
      .orderBy(xxhash64(col(idCol).cast("string")), col(idCol))
      .limit(k)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Any](0).map {
        case f: java.lang.Float  => f.toDouble
        case d: java.lang.Double => d.doubleValue()
      }.toSeq).toSeq
    for (_ <- 1 to iters) {
      // assign in a SEPARATE projection BELOW the explode: with both in
      // one select, the generate-stage codegen re-evaluates the k×dims
      // assignment subexpression per EXPLODED dim row — a dims× blowup
      // of the most expensive expression in the loop
      // FlatQuantizer.assign rather than assignExpr directly: past
      // FlatLitMax (sharded supers reach g = √k ≈ 10³) the literal
      // formulation trips Janino's method limit and the whole Lloyd
      // round would run interpreted; the quantizer routes to the
      // broadcast loop with bit-identical ranking
      val means = sample
        .select(FlatQuantizer(model).assign(col(vecCol)).as("cluster"),
          col(vecCol))
        .select(col("cluster"), posexplode(col(vecCol)).as(Seq("dim", "x")))
        .groupBy(col("cluster"), col("dim"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("cluster"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("cluster"),
          transform(col("dm"), s => s.getField("m")).as("centroid"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
        .toMap
      model = model.indices.map(j => means.getOrElse(j, model(j)))
    }
    model
  }

  /** Approximate top-k neighbors for each query via the IVF index.
    * Output contract identical to [[Similarity.bruteForceTopK]]:
    * (q_id, n_id, sim, rank), rank 1..k by (sim desc, n_id).
    */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
      kClusters: Int = 16, iters: Int = 2, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val model = train(corpus, kClusters, iters, idCol, vecCol)
    topKWithModel(corpus, queries, model, k, nprobe, idCol, vecCol)
  }

  /** Materialize the inverted file as a [[graft.catalog.SnapshotTable]]
    * hidden-partitioned by cluster id — the persisted 100 TB index
    * shape made concrete: each corpus vector is assigned once at build,
    * and the cluster id becomes a MANIFEST partition value, so a query
    * that probes `nprobe` of `k` clusters opens only those clusters'
    * files ([[topKWithIndex]]) — file-level pruning decided from
    * metadata, zero data files touched for unprobed clusters.
    *
    * REBUILDS (root already holds an index) land the data in ONE atomic
    * `overwrite` commit: readers see the old index or the new one,
    * never a mixture, and old versions stay time-travel-readable until
    * expired (a metadata-only property commit recording the staleness
    * baseline for [[appendToIndex]] follows). A FIRST-time build is
    * create + overwrite (the middle state being a valid empty index) —
    * publish a brand-new root to readers only after buildIndex returns.
    */
  def buildIndex(spark: org.apache.spark.sql.SparkSession, corpus: DataFrame,
      model: Model, root: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      pq: Option[graft.functions.Pq.Codebook] = None): graft.catalog.SnapshotTable =
    buildIndex(spark, corpus, FlatQuantizer(model), root, idCol, vecCol, pq)

  /** [[buildIndex]] under any [[Quantizer]] — the large-k entry point
    * (pass [[twoLevel]]'s hierarchy and assignment stays O(√k·d)/row).
    */
  def buildIndex(spark: org.apache.spark.sql.SparkSession, corpus: DataFrame,
      q: Quantizer, root: String, idCol: String, vecCol: String,
      pq: Option[graft.functions.Pq.Codebook]): graft.catalog.SnapshotTable = {
    val base = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      q.assign(col(vecCol)).as("cluster"))
    // with a PQ codebook the index also stores the m-byte code per
    // vector, so a probed-cluster ADC scan reads codes ONLY (parquet
    // column pruning keeps the full vectors out of the scan until the
    // shortlist re-rank) — manifest pruning and byte codes compose
    val assigned = pq match {
      case Some(cb) => base.withColumn("code",
        graft.functions.Pq.encode(col("n_vec"), cb))
      case None => base
    }
    val t =
      if (graft.catalog.SnapshotTable.exists(spark, root))
        graft.catalog.SnapshotTable.load(spark, root)
      else graft.catalog.SnapshotTable.create(spark, root, assigned.schema,
        Some(graft.catalog.PartitionSpec("cluster", "identity")))
    t.overwrite(assigned)
    // staleness baseline for incremental maintenance: the BUILD-time
    // assignment quality (mean nearest-centroid cosine over a bounded
    // deterministic sample) — [[appendToIndex]] compares each batch
    // against it. A metadata-only property commit; data untouched.
    t.setProperties(Map(
      BaseSimProp -> f"${assignQuality(corpus, q, idCol, vecCol, 10000)}%.6f"))
    t
  }

  /** Snapshot property: build-time mean assignment similarity. */
  val BaseSimProp = "graft.ivf.base_mean_sim"

  /** Mean nearest-centroid cosine over a bounded hash-ordered sample —
    * the drift statistic the incremental-maintenance staleness trigger
    * compares. Model-sized result; cost bounded by `sampleMax` rows
    * regardless of corpus size (the [[train]] sampling contract).
    */
  def assignQuality(df: DataFrame, model: Model,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sampleMax: Int = 10000): Double =
    assignQuality(df, FlatQuantizer(model), idCol, vecCol, sampleMax)

  /** [[assignQuality]] under any [[Quantizer]] (the two-level form
    * measures the best REACHABLE centroid — the quantity its
    * assignment actually optimizes).
    */
  def assignQuality(df: DataFrame, q: Quantizer, idCol: String,
      vecCol: String, sampleMax: Int): Double =
    df.orderBy(xxhash64(col(idCol).cast("string")), col(idCol))
      .limit(sampleMax)
      .select(avg(q.bestSim(col(vecCol))).as("q"))
      .collect()(0).getDouble(0)

  /** Outcome of one [[appendToIndex]] batch: `batchMeanSim` is the
    * batch's assignment quality under the index's frozen centroids,
    * `baseMeanSim` the build-time baseline, and `stale` fires when the
    * batch assigns at least `1 - tolerance` WORSE than the baseline —
    * the signal to retrain + [[buildIndex]] (one atomic overwrite).
    */
  final case class IndexAppend(table: graft.catalog.SnapshotTable,
      appendedRows: Long, batchMeanSim: Double,
      baseMeanSim: Option[Double], stale: Boolean)

  /** Incrementally maintain a persisted [[buildIndex]] table: assign
    * the NEW batch to the index's EXISTING centroids and atomically
    * append its rows into the cluster-partitioned inverted file — the
    * per-batch ingest shape a live 100 TB corpus needs. The existing
    * index is never re-assigned, re-encoded, or rewritten; the commit
    * is O(batch), and a reader sees the old index or old+batch, never
    * a mixture ([[graft.catalog.SnapshotTable.append]] atomicity).
    *
    * Staleness contract: the centroids are FROZEN at build time, so
    * recall decays if the data distribution drifts. Each append
    * measures the batch's mean nearest-centroid cosine against the
    * build-time baseline stored on the index ([[BaseSimProp]]); when
    * the batch assigns more than `tolerance` relatively worse
    * (`batchMeanSim < (1 - tolerance) × baseline`), the returned
    * [[IndexAppend]] flags `stale = true` — the caller's trigger to
    * retrain and rebuild (the append still commits: a slightly stale
    * index that CONTAINS the new vectors beats one that silently
    * dropped them).
    *
    * The batch must carry the same id/vector columns the index was
    * built from; a PQ-coded index requires the SAME codebook (codes
    * from a different codebook would corrupt ADC scans — refused).
    */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, model: Model, root: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      pq: Option[graft.functions.Pq.Codebook] = None,
      tolerance: Double = 0.05): IndexAppend =
    appendToIndex(spark, batch, FlatQuantizer(model), root, idCol, vecCol,
      pq, tolerance)

  /** [[appendToIndex]] under any [[Quantizer]] — must be the SAME
    * hierarchy the index was built with (a different quantizer would
    * scatter the batch across foreign cluster ids).
    */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, q: Quantizer, root: String,
      idCol: String, vecCol: String,
      pq: Option[graft.functions.Pq.Codebook],
      tolerance: Double): IndexAppend = {
    require(graft.catalog.SnapshotTable.exists(spark, root),
      s"no index table at $root — buildIndex first")
    val t = graft.catalog.SnapshotTable.load(spark, root)
    val hasCodes = t.schema.fieldNames.contains("code")
    require(hasCodes == pq.isDefined,
      if (hasCodes) "index stores PQ codes — pass the SAME codebook"
      else "index has no PQ codes — drop the codebook")
    val base = batch.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      q.assign(col(vecCol)).as("cluster"))
    val assigned = pq match {
      case Some(cb) => base.withColumn("code",
        graft.functions.Pq.encode(col("n_vec"), cb))
      case None => base
    }
    val before = t.currentSnapshot().files.map(_.rows).sum
    val snap = t.append(assigned)
    val appended = snap.files.map(_.rows).sum - before
    val batchSim = assignQuality(batch, q, idCol, vecCol, 10000)
    val baseline = t.currentSnapshot().properties.get(BaseSimProp)
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
    val stale = baseline.exists(b => batchSim < (1.0 - tolerance) * b)
    IndexAppend(t, appended, batchSim, baseline, stale)
  }

  /** Query a persisted [[buildIndex]] table: probe clusters are chosen
    * per query vector from the broadcast model, the probed CLUSTER SET
    * (≤ the model's k — model-sized driver data) prunes the index at
    * the manifest, and candidates join by cluster id as in
    * [[topKWithModel]]. Output contract identical to
    * [[Similarity.bruteForceTopK]].
    */
  def topKWithIndex(index: graft.catalog.SnapshotTable, queries: DataFrame,
      model: Model, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    topKWithIndex(index, queries, FlatQuantizer(model), k, nprobe,
      idCol, vecCol)

  /** [[topKWithIndex]] under any [[Quantizer]]. */
  def topKWithIndex(index: graft.catalog.SnapshotTable, queries: DataFrame,
      q0: Quantizer, k: Int, nprobe: Int,
      idCol: String, vecCol: String): DataFrame = {
    // materialized once, UNEXPLODED (one row per query): the pruning
    // collect and the join side must see the SAME probe choices (a
    // nondeterministic query source could otherwise probe a cluster at
    // join time that pruning dropped), probeExpr's k cosines per query
    // row must not run twice, and — the r6 bench-drift lesson — the
    // split-broadcast sides (pairs, vecs) must be NARROW projections of
    // this checkpoint, not dropDuplicates re-aggregations of an
    // exploded frame (each dedup was a shuffle job per broadcast)
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        q0.probe(col(vecCol), nprobe).as("probe_clusters"))
      .localCheckpoint(true)
    val pairs = q.select(col("q_id"),
      explode(col("probe_clusters")).as("cluster"))
    val probed = pairs.select(col("cluster").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    scoreAndRank(index.readPartitions(p => p.exists(probed.contains))
      .select(col("cluster"), col("n_id"), col("n_vec")),
      pairs, q.select(col("q_id"), col("q_vec")), k)
  }

  /** IVF-PQ over a persisted [[buildIndex]] table (built with a `pq`
    * codebook): the probed CLUSTER SET prunes the index at the manifest
    * (unprobed clusters' files are never opened), the ADC scan projects
    * only `(cluster, n_id, code)` — parquet column pruning keeps the
    * full vectors out of the hot scan, so the bytes read per probed
    * cluster drop ~dims×8/m versus the float path — and only the
    * `shortlist` ADC-best rows per query fetch their true vectors for
    * the exact-cosine re-rank. Manifest pruning × byte codes: the
    * FAISS IndexIVFPQ read shape on snapshot-table storage. Output
    * contract identical to [[Similarity.bruteForceTopK]].
    */
  def topKPqWithIndex(index: graft.catalog.SnapshotTable, queries: DataFrame,
      model: Model, cb: graft.functions.Pq.Codebook, k: Int,
      nprobe: Int = 4, shortlist: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    topKPqWithIndex(index, queries, FlatQuantizer(model), cb, k, nprobe,
      shortlist, idCol, vecCol)

  /** [[topKPqWithIndex]] under any [[Quantizer]]. */
  def topKPqWithIndex(index: graft.catalog.SnapshotTable, queries: DataFrame,
      qz: Quantizer, cb: graft.functions.Pq.Codebook, k: Int,
      nprobe: Int, shortlist: Int,
      idCol: String, vecCol: String): DataFrame = {
    import graft.functions.Pq
    require(index.schema.fieldNames.contains("code"),
      "index table has no PQ codes — buildIndex(pq = Some(codebook))")
    // one row per query (see topKWithIndex for why unexploded): pairs,
    // LUTs, and re-rank vectors are all narrow projections of this one
    // checkpoint — no dedup shuffles, no probe/lut recompute
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        qz.probe(col(vecCol), nprobe).as("probe_clusters"),
        Pq.lut(col(vecCol), cb).as("lut"))
      .localCheckpoint(true)
    val pairs = q.select(col("q_id"),
      explode(col("probe_clusters")).as("cluster"))
    pqScanAndRerank(index, q, pairs, cb, k, shortlist)
  }

  /** Shared ADC scan + exact re-rank over a probed PQ-coded index —
    * the body of [[topKPqWithIndex]], also driven by [[topKPqSharded]]:
    * `q` is one checkpointed row per query (q_id, q_vec, lut, …),
    * `pairs` the chosen (q_id, cluster) probes derived from it (so the
    * pruning collect and the joins see the same choices).
    */
  private def pqScanAndRerank(index: graft.catalog.SnapshotTable,
      q: DataFrame, pairs: DataFrame, cb: graft.functions.Pq.Codebook,
      k: Int, shortlist: Int): DataFrame = {
    import graft.functions.Pq
    val probed = pairs.select(col("cluster").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    val pruned = index.readPartitions(p => p.exists(probed.contains))
    // split broadcast, same reason as scoreAndRank but stronger: the
    // per-query LUT is m×ksub doubles (8 KB at m=64), so joining it
    // into the (q_id, cluster) probe rows would replicate it nprobe×
    // in the broadcast build side
    val approx = pruned.select(col("cluster"), col("n_id"), col("code"))
      .join(broadcast(pairs.select(col("q_id"), col("cluster"))),
        Seq("cluster"))
      .filter(col("q_id") =!= col("n_id"))
      .join(broadcast(q.select(col("q_id"), col("lut"))), Seq("q_id"))
      .withColumn("sim", -Pq.adc(col("code"), col("lut"), cb))
    // Re-rank vector fetch, chosen from MANIFEST row counts (a driver-
    // side metadata read, no job): on a small probed set the lazy
    // single-DAG join is cheapest (extra job barriers would dominate);
    // past a few million probed rows the second full vector scan is the
    // cost that matters, so the shortlist is materialized and its ids
    // pushed into the parquet scan as an IN filter — row-group stats
    // (and Bloom sidecars, when indexed) reduce the fetch to the
    // shortlist's own files. This is the shape that stays cheap as the
    // corpus grows; the threshold only guards micro-corpus overhead.
    val probedRows = index.currentSnapshot().files
      .filter(_.partition.exists(probed.contains)).map(_.rows).sum
    val short0 = Similarity.rankTopK(approx, shortlist)
      .select(col("q_id"), col("n_id"))
    val idCap = 65536
    val (short, vecSource) =
      if (probedRows < 4000000L) (short0, pruned)
      else {
        val s = short0.localCheckpoint(true)
        val ids = s.select(col("n_id")).distinct()
          .limit(idCap + 1).collect().map(_.get(0))
        if (ids.length <= idCap)
          (s, pruned.filter(col("n_id").isInCollection(ids.toIndexedSeq)))
        else (s, pruned)
      }
    val rescored = short
      .join(vecSource.select(col("n_id"), col("n_vec")), Seq("n_id"))
      .join(broadcast(q.select(col("q_id"), col("q_vec"))), Seq("q_id"))
      .withColumn("sim", cosine(col("q_vec"), col("n_vec")))
    Similarity.rankTopK(rescored, k)
  }

  /** IVF-PQ over a [[buildIndexSharded]] table built with a codebook —
    * the extreme-k AND wide-vector composition (exactly the 100 TB
    * SemDeDup/ANN operating point): probing stays the sharded join
    * descent (nothing O(k·d) materialized — the PQ codebook is
    * m×ksub×(d/m) doubles, independent of k), the ADC scan reads
    * (cluster, n_id, code) only, and the shortlist re-ranks exact.
    * Output contract identical to [[Similarity.bruteForceTopK]].
    */
  def topKPqSharded(index: graft.catalog.SnapshotTable, queries: DataFrame,
      supers: Model, centroids: DataFrame, cb: graft.functions.Pq.Codebook,
      k: Int, nsuper: Int, nprobe: Int, shortlist: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.Pq
    require(index.schema.fieldNames.contains("code"),
      "index table has no PQ codes — buildIndexSharded(pq = Some(codebook))")
    val sq = superQuantizer(supers, nsuper)
    val np = math.max(1, math.min(nsuper, supers.size))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        sq.probe(col(vecCol), np).as("sids"),
        Pq.lut(col(vecCol), cb).as("lut"))
      .localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("csim").desc, col("fine_id"))
    val pairs = q.select(col("q_id"), col("q_vec"),
        explode(col("sids")).as("super_id"))
      .join(centroids, Seq("super_id"))
      .withColumn("csim", cosine(col("q_vec"), col("centroid")))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= nprobe)
      .select(col("q_id"), col("fine_id").as("cluster"))
      .localCheckpoint(true)
    pqScanAndRerank(index, q, pairs, cb, k, shortlist)
  }

  /** Query an already-trained model (the shape a persisted 100 TB index
    * uses: assignment column precomputed, clusters as partition keys).
    */
  def topKWithModel(corpus: DataFrame, queries: DataFrame, model: Model,
      k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    topKWithModel(corpus, queries, FlatQuantizer(model), k, nprobe,
      idCol, vecCol)

  /** [[topKWithModel]] under any [[Quantizer]]. */
  def topKWithModel(corpus: DataFrame, queries: DataFrame, q: Quantizer,
      k: Int, nprobe: Int, idCol: String, vecCol: String): DataFrame = {
    val indexed = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      q.assign(col(vecCol)).as("cluster"))
    // pairs and vecs come from SEPARATE narrow reads of `queries` —
    // the probe's centroid cosines run once (in pairs only), and the
    // vector side needs no dedup because the source is one row per id
    val pairs = queries.select(col(idCol).as("q_id"),
      explode(q.probe(col(vecCol), nprobe)).as("cluster"))
    val vecs = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    scoreAndRank(indexed, pairs, vecs, k)
  }

  /** Shared candidate scoring for the model and persisted-index query
    * paths: one row per (query, probed cluster); a corpus vector lives
    * in ONE cluster and probes are distinct, so no duplicate (q, n)
    * pairs; exact cosine + partial top-k aggregation rank them.
    *
    * The broadcast is SPLIT: `pairs` is (q_id, cluster) — a few bytes
    * per row — while the query VECTOR rides in a second broadcast
    * (`vecs`, one row per query) — broadcasting them joined would
    * replicate every q_vec nprobe× in the build side (at wide dims and
    * thousands of queries, hundreds of MB of driver and hash-table
    * weight for nothing). Callers supply both sides already narrow and
    * deduplicated (a one-row-per-query source or checkpoint
    * projection) — a `dropDuplicates` here would add a shuffle job per
    * broadcast, the measured cause of the r6 IVF bench drift.
    */
  private def scoreAndRank(indexed: DataFrame, pairs: DataFrame,
      vecs: DataFrame, k: Int): DataFrame = {
    val scored = indexed.join(broadcast(pairs), Seq("cluster"))
      .filter(col("q_id") =!= col("n_id"))
      .join(broadcast(vecs), Seq("q_id"))
      .withColumn("sim", cosine(col("q_vec"), col("n_vec")))
    Similarity.rankTopK(scored, k)
  }

  // ------------------------------------------------------------------
  // Sharded model: the extreme-k path (fine model as a DataFrame)
  // ------------------------------------------------------------------

  /** Degenerate two-level hierarchy over the SUPERS alone (each super
    * its own single child): probing it returns super indexes through
    * the same broadcast codegen descent, so super-probing plans carry
    * O(√k·d) bytes and zero per-centroid literals.
    */
  private def superQuantizer(supers: Model, nsuper: Int): TwoLevelQuantizer =
    TwoLevelQuantizer(supers,
      supers.indices.map(s => Seq((s, supers(s)))),
      nsuper = math.max(1, math.min(nsuper, supers.size)))

  /** Executor-local spherical k-means over an in-memory sample — the
    * per-super trainer of [[trainSharded]]. Same discipline as
    * [[twoLevel]]'s driver-side grouping: stride seeding over the given
    * (already deterministically ordered) sample, ties toward the
    * smaller index, empty clusters keep their previous centroid, sums
    * accumulate sequentially in index order (bit-deterministic).
    */
  private[operators] def localKMeans(vecs: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    require(vecs.nonEmpty && k >= 1 && k <= vecs.length,
      s"localKMeans: k=$k over ${vecs.length} rows")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    var cents = Array.tabulate(k)(j =>
      vecs((j.toLong * vecs.length / k).toInt).clone())
    def assignAll(): Array[Int] = vecs.map { v =>
      var best = 0; var bestS = Double.NegativeInfinity; var s = 0
      while (s < cents.length) {
        val sim = cos(v, cents(s))
        if (sim > bestS) { bestS = sim; best = s }
        s += 1
      }
      best
    }
    for (_ <- 1 to iters) {
      val a = assignAll()
      val sums = Array.fill(cents.length)(new Array[Double](vecs(0).length))
      val counts = new Array[Int](cents.length)
      vecs.indices.foreach { i =>
        val g = a(i); counts(g) += 1
        var d = 0
        while (d < vecs(i).length) { sums(g)(d) += vecs(i)(d); d += 1 }
      }
      cents = Array.tabulate(cents.length)(g =>
        if (counts(g) > 0) sums(g).map(_ / counts(g)) else cents(g))
    }
    cents
  }

  /** Exact row count from table METADATA when `df` is a bare (or
    * projected) read of a graft snapshot catalog table — manifest row
    * sums minus provably-disjoint delete-vector rows, no data file
    * opened at any table size ([[graft.catalog.GraftBatchScan
    * .exactRowCount]]). Anything else answers None and the caller
    * falls back to counting: unions/joins/filters above the scan (only
    * row-preserving Project nodes are descended), non-graft sources
    * (their reported numRows may be an estimate), and graft snapshots
    * whose live count metadata cannot prove — pending equality deletes,
    * pushed filters, limit/TopN, overlapping vector coverage.
    */
  private[graft] def metadataRowCount(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    def ofScan(scan: org.apache.spark.sql.connector.read.Scan): Option[Long] =
      scan match {
        case g: graft.catalog.GraftBatchScan => g.exactRowCount
        case _ => None
      }
    def walk(p: LogicalPlan): Option[Long] = p match {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        ofScan(r.scan)
      case pr: Project => walk(pr.child)
      case _ => None
    }
    walk(df.queryExecution.optimizedPlan)
  }

  /** Hierarchical training with the FINE model as a DataFrame — the
    * extreme-k path where no O(k·d) object ever exists on the driver,
    * in a plan, or in a broadcast (the [[TwoLevelQuantizer]] broadcast
    * is O(k·d) bytes per executor: workable to k ≈ 10⁵, a 4 GB wall at
    * k = 10⁶ × d = 512 — the k ∝ N discipline reaches that at 100 TB):
    *
    *  1. supers: [[train]] fits g = ⌈√k⌉ super-centroids (model-sized,
    *     O(√k·d) ≈ 4 MB at k = 10⁶ × d = 512);
    *  2. every row soft-assigns to its nearest super through the
    *     broadcast super descent, and a deterministic HASH-THRESHOLD
    *     sample (no per-super window sort — a windowed cap would ship
    *     each super's full N/g rows to one task) bounds the per-super
    *     training set to ≈ `samplePerSuper` rows in expectation;
    *  3. per super, an executor-LOCAL Lloyd ([[localKMeans]]) fits
    *     ⌈k/g⌉ fine centroids from its (hash-sorted, capped) sample —
    *     all supers train in parallel, and the result STAYS distributed
    *     as (fine_id, super_id, centroid) rows.
    *
    * Fine ids are `super_id · ⌈k/g⌉ + j` — globally unique and stable
    * across runs (hash-threshold sampling, in-group (hash, id) sort,
    * stride seeding, tie-to-smaller-index, sequential fp sums). A super
    * whose sample is smaller than its quota emits fewer centroids
    * (never a duplicated seed); a super sampled empty emits none.
    */
  def trainSharded(corpus: DataFrame, kFine: Int, iters: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding",
      samplePerSuper: Int = 4096, superIters: Int = 10,
      rowCountHint: Option[Long] = None): (Model, DataFrame) = {
    require(kFine >= 1, s"kFine=$kFine must be >= 1")
    val g = math.max(1, math.ceil(math.sqrt(kFine.toDouble)).toInt)
    val kPer = math.ceil(kFine.toDouble / g).toInt
    require(samplePerSuper >= kPer,
      s"samplePerSuper=$samplePerSuper must cover the per-super quota $kPer")
    val supers = train(corpus, g, superIters, idCol, vecCol)
    val sq = superQuantizer(supers, 1)
    // expected per-super population from ONE size probe; the threshold
    // keeps ~2× the cap so the in-group sort still has the
    // deterministic hash-least rows after collisions, while a skewed
    // super's group stays O(samplePerSuper), never O(N/g). The size
    // only calibrates the sampling fraction, so it comes from (in
    // order): the caller's hint, the MANIFEST when the corpus is a
    // bare snapshot-table read (metadata-only — at 100 TB a
    // corpus.count() is a full-table scan before training even
    // starts: VERDICT r16 #3), and corpus.count() as the last resort.
    val n = math.max(1L, rowCountHint
      .orElse(metadataRowCount(corpus))
      .getOrElse(corpus.count()))
    val frac = math.min(1.0,
      2.0 * samplePerSuper * g / n.toDouble)
    val mod = 1L << 31
    val keep = (frac * mod).toLong
    val spark = corpus.sparkSession
    import spark.implicits._
    val sampled = corpus.select(
        sq.assign(col(vecCol)).as("sid"),
        xxhash64(col(idCol).cast("string")).as("h"),
        col(idCol).cast("string").as("rid"),
        col(vecCol).cast("array<double>").as("v"))
      .filter(pmod(col("h"), lit(mod)) < lit(keep))
    val centroids = sampled.as[(Int, Long, String, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (sid, it) =>
        // bounded selection, NOT it.toArray: a skewed super passes
        // frac·|super| rows through the hash threshold, and a
        // mega-super would materialize far more than the cap in one
        // task. A size-capped heap keeps the samplePerSuper smallest
        // (h, rid) rows in O(cap) memory — the same deterministic set
        // a full sort-then-take would pick.
        val ord = Ordering.by[(Int, Long, String, Seq[Double]), (Long, String)](
          r => (r._2, r._3))
        val heap = new scala.collection.mutable.PriorityQueue[
          (Int, Long, String, Seq[Double])]()(ord) // max-heap on (h, rid)
        it.foreach { r =>
          if (heap.size < samplePerSuper) heap.enqueue(r)
          else if (ord.lt(r, heap.head)) { heap.dequeue(); heap.enqueue(r) }
        }
        val rows = heap.dequeueAll.reverse // ascending (h, rid)
        val vecs = rows.map(_._4.toArray).toArray
        if (vecs.isEmpty) Iterator.empty
        else localKMeans(vecs, math.min(kPer, vecs.length), iters)
          .iterator.zipWithIndex.map { case (c, j) =>
            (sid * kPer + j, sid, c.toSeq)
          }
      }
      .toDF("fine_id", "super_id", "centroid")
    // EVERY super must own at least one fine centroid: a super whose
    // sample came back empty (tiny or skew-starved) would otherwise
    // strand any row that probes ONLY such supers — the candidate join
    // in [[assignSharded]] finds nothing, the argmax groupBy emits no
    // row, and the vector silently drops from indexes. The super
    // centroid itself backstops, in a reserved id range above every
    // trained id (g·kPer + sid > (g−1)·kPer + kPer − 1).
    val fallback = spark.createDataFrame(
      supers.indices.map(s1 => (g * kPer + s1, s1, supers(s1))))
      .toDF("fine_id", "super_id", "centroid")
    val missing = fallback
      .join(centroids.select(col("super_id")).distinct(),
        Seq("super_id"), "left_anti")
      .select(col("fine_id"), col("super_id"), col("centroid"))
    (supers, centroids.unionByName(missing))
  }

  /** Nearest-fine-centroid assignment with the model as a DATAFRAME
    * (join-based descent — the [[trainSharded]] companion): each row
    * probes its `nsuper` nearest supers through the O(√k·d) broadcast,
    * the probed super ids JOIN the distributed (fine_id, super_id,
    * centroid) rows, candidates score by exact cosine, and the
    * (sim desc, fine_id asc) best wins — the same candidate set and
    * tie-break as [[TwoLevelQuantizer.assign]] at equal `nsuper`
    * (spec-pinned parity). Returns one (idCol, cluster) row per input.
    *
    * Cost: the (id, vec) projection shuffles ~`nsuper`× for the
    * centroid join plus once for the per-id argmax — the price of
    * never materializing O(k·d) bytes anywhere. Below the broadcast
    * wall the [[TwoLevelQuantizer]] is cheaper; past it this is the
    * shape that scales.
    */
  def assignSharded(rows: DataFrame, supers: Model, centroids: DataFrame,
      nsuper: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    shardedCandidates(rows, supers, centroids, nsuper, idCol, vecCol)
      .groupBy(col(idCol))
      .agg(min(struct((col("sim") * lit(-1.0)).as("negsim"),
        col("fine_id").as("fine_id"))).as("best"))
      .select(col(idCol), col("best.fine_id").as("cluster"))

  /** Candidate (row × fine centroid) scores from the join descent —
    * (idCol, fine_id, sim) rows, ~nsuper·k/g per input row. Shared by
    * [[assignSharded]] (argmax) and
    * [[SemDedup.softAssignSharded]] (top-`probes`).
    */
  private[operators] def shardedCandidates(rows: DataFrame, supers: Model,
      centroids: DataFrame, nsuper: Int, idCol: String,
      vecCol: String): DataFrame = {
    val sq = superQuantizer(supers, nsuper)
    val np = math.max(1, math.min(nsuper, supers.size))
    rows.select(col(idCol), col(vecCol),
        explode(sq.probe(col(vecCol), np)).as("super_id"))
      .join(centroids, Seq("super_id"))
      .withColumn("sim", cosine(col(vecCol), col("centroid")))
      .select(col(idCol), col("fine_id"), col("sim"))
  }

  /** [[buildIndex]] with a sharded (DataFrame) fine model: assignment
    * runs through [[assignSharded]], so the build never broadcasts or
    * collects O(k·d) bytes. Same atomic overwrite/rebuild contract as
    * [[buildIndex]]; the staleness baseline is the mean best-candidate
    * cosine over a bounded sample of the SAME join descent.
    */
  def buildIndexSharded(spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, supers: Model, centroids: DataFrame, nsuper: Int,
      root: String, idCol: String = "vec_id", vecCol: String = "embedding",
      pq: Option[graft.functions.Pq.Codebook] = None)
      : graft.catalog.SnapshotTable = {
    val base = corpus
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .join(assignSharded(corpus, supers, centroids, nsuper, idCol, vecCol)
        .withColumnRenamed(idCol, "n_id"), Seq("n_id"))
    // the PQ codebook is m×ksub×(d/m) doubles — independent of k, so it
    // composes with the sharded model without reintroducing O(k·d)
    val assigned = pq match {
      case Some(cb) => base.withColumn("code",
        graft.functions.Pq.encode(col("n_vec"), cb))
      case None => base
    }
    val t =
      if (graft.catalog.SnapshotTable.exists(spark, root))
        graft.catalog.SnapshotTable.load(spark, root)
      else graft.catalog.SnapshotTable.create(spark, root, assigned.schema,
        Some(graft.catalog.PartitionSpec("cluster", "identity")))
    t.overwrite(assigned)
    t.setProperties(Map(BaseSimProp -> f"${assignQualitySharded(corpus,
      supers, centroids, nsuper, idCol, vecCol)}%.6f"))
    t
  }

  /** [[assignQuality]] under the sharded model: mean best-candidate
    * cosine over a bounded hash-ordered sample — the quantity the join
    * descent actually optimizes, computed from the SAME candidate
    * generation ([[shardedCandidates]]).
    */
  def assignQualitySharded(df: DataFrame, supers: Model,
      centroids: DataFrame, nsuper: Int, idCol: String, vecCol: String,
      sampleMax: Int = 10000): Double = {
    val sample = df
      .orderBy(xxhash64(col(idCol).cast("string")), col(idCol))
      .limit(sampleMax).select(col(idCol), col(vecCol))
    shardedCandidates(sample, supers, centroids, nsuper, idCol, vecCol)
      .groupBy(col(idCol)).agg(max(col("sim")).as("best"))
      .agg(avg(col("best")).as("q"))
      .collect()(0).getDouble(0)
  }

  /** [[appendToIndex]] with the sharded (DataFrame) model — must be
    * the SAME (supers, centroids) the index was built with. Assignment
    * runs through [[assignSharded]] (O(batch) commit, nothing O(k·d)
    * materialized); the staleness contract mirrors [[appendToIndex]],
    * measured by [[assignQualitySharded]] against the build-time
    * baseline the index carries.
    */
  def appendToIndexSharded(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, supers: Model, centroids: DataFrame, nsuper: Int,
      root: String, idCol: String = "vec_id", vecCol: String = "embedding",
      tolerance: Double = 0.05,
      pq: Option[graft.functions.Pq.Codebook] = None): IndexAppend = {
    require(graft.catalog.SnapshotTable.exists(spark, root),
      s"no index table at $root — buildIndexSharded first")
    val t = graft.catalog.SnapshotTable.load(spark, root)
    val hasCodes = t.schema.fieldNames.contains("code")
    require(hasCodes == pq.isDefined,
      if (hasCodes) "index stores PQ codes — pass the SAME codebook"
      else "index has no PQ codes — drop the codebook")
    val base = batch
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .join(assignSharded(batch, supers, centroids, nsuper, idCol, vecCol)
        .withColumnRenamed(idCol, "n_id"), Seq("n_id"))
    val assigned = pq match {
      case Some(cb) => base.withColumn("code",
        graft.functions.Pq.encode(col("n_vec"), cb))
      case None => base
    }
    val before = t.currentSnapshot().files.map(_.rows).sum
    val snap = t.append(assigned)
    val appended = snap.files.map(_.rows).sum - before
    val batchSim = assignQualitySharded(batch, supers, centroids, nsuper,
      idCol, vecCol)
    val baseline = t.currentSnapshot().properties.get(BaseSimProp)
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
    val stale = baseline.exists(b => batchSim < (1.0 - tolerance) * b)
    IndexAppend(t, appended, batchSim, baseline, stale)
  }

  /** Query a [[buildIndexSharded]] table: queries (a batch, not the
    * corpus) probe their `nsuper` supers through the broadcast, the
    * probed supers' centroid rows rank the `nprobe` best fine clusters
    * per query, the probed CLUSTER SET (queries × nprobe — batch-sized)
    * prunes the index at the manifest, and candidates score exactly as
    * in [[topKWithIndex]]. When `centroids` is itself read from a
    * super-partitioned table, the centroid join touches only probed
    * supers' files — every stage stays sublinear in k and in the
    * corpus. Output contract identical to
    * [[Similarity.bruteForceTopK]].
    */
  def topKSharded(index: graft.catalog.SnapshotTable, queries: DataFrame,
      supers: Model, centroids: DataFrame, k: Int, nsuper: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = shardedQueryProbe(queries, supers, nsuper, idCol, vecCol)
    topKShardedFrom(index, q, centroids, k, nprobe)
  }

  /** [[topKSharded]] with the centroids PERSISTED super-partitioned
    * ([[saveCentroids]]): the query batch's probed super set
    * (batch-sized) prunes the centroid table at the MANIFEST before
    * the fine-probe join — only probed supers' centroid files open,
    * so the centroid read is sublinear in k exactly like the index
    * read is sublinear in the corpus.
    */
  def topKSharded(index: graft.catalog.SnapshotTable, queries: DataFrame,
      supers: Model, centroidsTable: graft.catalog.SnapshotTable, k: Int,
      nsuper: Int, nprobe: Int, idCol: String,
      vecCol: String): DataFrame = {
    val q = shardedQueryProbe(queries, supers, nsuper, idCol, vecCol)
    val probedSupers = q.select(explode(col("sids")).as("s")).distinct()
      .collect().map(_.getInt(0).toString).toSet
    topKShardedFrom(index, q,
      centroidsTable.readPartitions(p => p.exists(probedSupers.contains)),
      k, nprobe)
  }

  /** Queries with their probed supers pinned once (checkpoint — the
    * pruning collects and the joins must see the same choices).
    */
  private def shardedQueryProbe(queries: DataFrame, supers: Model,
      nsuper: Int, idCol: String, vecCol: String): DataFrame = {
    val sq = superQuantizer(supers, nsuper)
    val np = math.max(1, math.min(nsuper, supers.size))
    queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        sq.probe(col(vecCol), np).as("sids"))
      .localCheckpoint(true)
  }

  private def topKShardedFrom(index: graft.catalog.SnapshotTable,
      q: DataFrame, centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("fine_id"))
    val pairs = q.select(col("q_id"), col("q_vec"),
        explode(col("sids")).as("super_id"))
      .join(centroids, Seq("super_id"))
      .withColumn("sim", cosine(col("q_vec"), col("centroid")))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= nprobe)
      .select(col("q_id"), col("fine_id").as("cluster"))
      .localCheckpoint(true)
    val probed = pairs.select(col("cluster").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    scoreAndRank(index.readPartitions(p => p.exists(probed.contains))
      .select(col("cluster"), col("n_id"), col("n_vec")),
      pairs, q.select(col("q_id"), col("q_vec")), k)
  }

  /** Persist a [[trainSharded]] centroid frame as a snapshot table
    * hidden-partitioned by `super_id` — the durable model shape for
    * the sharded family: rebuilds land as one atomic overwrite, and
    * probed-super reads prune at the manifest
    * ([[topKSharded]]'s table overload).
    */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession,
      centroids: DataFrame, root: String): graft.catalog.SnapshotTable = {
    val t =
      if (graft.catalog.SnapshotTable.exists(spark, root))
        graft.catalog.SnapshotTable.load(spark, root)
      else graft.catalog.SnapshotTable.create(spark, root, centroids.schema,
        Some(graft.catalog.PartitionSpec("super_id", "identity")))
    t.overwrite(centroids)
    t
  }

  // ------------------------------------------------------------------
  // IVF-PQ: product-quantized candidate scoring (see functions/Pq)
  // ------------------------------------------------------------------

  /** Train a PQ codebook on a bounded, hash-ordered (deterministic)
    * sample: `m` independent driver-side Lloyd runs, one per subspace —
    * sample and codebook are model-sized, never corpus-sized, the same
    * cost contract as [[train]]. Empty clusters keep their previous
    * centroid; assignment ties break toward the smaller index.
    */
  def trainPq(corpus: DataFrame, m: Int, ksub: Int, iters: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sampleMax: Int = 10000): graft.functions.Pq.Codebook = {
    require(ksub >= 1 && ksub <= 256, s"ksub must be 1..256: $ksub")
    val vecs: Array[Array[Double]] = corpus
      .orderBy(xxhash64(col(idCol).cast("string")), col(idCol))
      .limit(sampleMax)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Any](0).map {
        case f: java.lang.Float  => f.toDouble
        case d: java.lang.Double => d.doubleValue()
      }.toArray)
    require(vecs.nonEmpty, "trainPq needs a non-empty corpus")
    val d = vecs.head.length
    require(d % m == 0, s"dims=$d must divide into m=$m subspaces")
    val dsub = d / m
    val flat = new Array[Double](m * ksub * dsub)
    for (s <- 0 until m) {
      val subs = vecs.map(v =>
        java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      var cents = Array.tabulate(ksub)(j => subs(j % subs.length).clone())
      for (_ <- 1 to iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val counts = new Array[Int](ksub)
        for (v <- subs) {
          var best = 0
          var bestD = Double.MaxValue
          var j = 0
          while (j < ksub) {
            var dist = 0.0
            var i = 0
            while (i < dsub) {
              val diff = v(i) - cents(j)(i); dist += diff * diff; i += 1
            }
            if (dist < bestD) { bestD = dist; best = j }
            j += 1
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(ksub)(j =>
          if (counts(j) > 0) sums(j).map(_ / counts(j)) else cents(j))
      }
      for (j <- 0 until ksub; i <- 0 until dsub)
        flat(s * ksub * dsub + j * dsub + i) = cents(j)(i)
    }
    graft.functions.Pq.Codebook(m, ksub, dsub, flat.toIndexedSeq)
  }

  /** IVF-PQ top-k: candidates in the probed clusters score by ADC —
    * `m` table lookups against an m-BYTE code instead of a full-width
    * cosine — then only the `shortlist` best per query re-rank with the
    * exact cosine against true vectors fetched BY ID. At 100 TB the
    * scoring scan streams the code column (~64× narrower than the
    * embeddings); full vectors move only for queries×shortlist rows.
    * Output contract identical to [[Similarity.bruteForceTopK]];
    * results are exact whenever the true top-k survive the ADC
    * shortlist (recall knobs: `nprobe`, `shortlist`, `m`, `ksub`).
    */
  def topKPqWithModel(corpus: DataFrame, queries: DataFrame, model: Model,
      cb: graft.functions.Pq.Codebook, k: Int, nprobe: Int = 4,
      shortlist: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    topKPqWithModel(corpus, queries, FlatQuantizer(model), cb, k, nprobe,
      shortlist, idCol, vecCol)

  /** [[topKPqWithModel]] under any [[Quantizer]]. */
  def topKPqWithModel(corpus: DataFrame, queries: DataFrame, qz: Quantizer,
      cb: graft.functions.Pq.Codebook, k: Int, nprobe: Int,
      shortlist: Int, idCol: String, vecCol: String): DataFrame = {
    import graft.functions.Pq
    val coded = corpus.select(col(idCol).as("n_id"),
      qz.assign(col(vecCol)).as("cluster"),
      Pq.encode(col(vecCol), cb).as("code"))
    // split broadcast as in scoreAndRank: the m×ksub-double LUT rides a
    // one-row-per-query broadcast instead of replicating nprobe× in the
    // (q_id, cluster) pairs
    val pairs = queries.select(col(idCol).as("q_id"),
      explode(qz.probe(col(vecCol), nprobe)).as("cluster"))
    val luts = queries.select(col(idCol).as("q_id"),
      Pq.lut(col(vecCol), cb).as("lut"))
    // smaller ADC distance = closer: negate so rankTopK's (sim desc,
    // id asc) order yields nearest-first deterministically
    val approx = coded.join(broadcast(pairs), Seq("cluster"))
      .filter(col("q_id") =!= col("n_id"))
      .join(broadcast(luts), Seq("q_id"))
      .withColumn("sim", -Pq.adc(col("code"), col("lut"), cb))
    val short = Similarity.rankTopK(approx, shortlist)
      .select(col("q_id"), col("n_id"))
    val rescored = short
      .join(corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec")), Seq("n_id"))
      .join(broadcast(queries.select(col(idCol).as("q_id"),
        col(vecCol).as("q_vec"))), Seq("q_id"))
      .withColumn("sim", cosine(col("q_vec"), col("n_vec")))
    Similarity.rankTopK(rescored, k)
  }
}
