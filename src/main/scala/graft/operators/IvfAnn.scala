package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-flat approximate nearest neighbor — the SCALE PATH for similarity
  * search (SURVEY.md §2B; SimilarityQueries' brute-force scan is the
  * exact baseline). Standard inverted-file design:
  *
  *  - build: a coarse quantizer of `nLists` centroids (deterministic
  *    HASH-STRATIFIED sample init — the first `nLists` vectors in
  *    md5(vec_id) order, the plain-Spark analog of IVF's random-sample
  *    seeding, immune to ingestion-order correlation); every vector is assigned
  *    to its nearest centroid with ONE broadcast pass (no shuffle of
  *    the embedding table beyond the final write);
  *  - search: rank centroids against the query (nLists rows — driver-
  *    trivial), keep `nprobe` lists, then scan ONLY those lists for the
  *    exact cosine top-k.
  *
  * At 100 TB the index is written `partitionBy(list_id)`, so probing
  * nprobe/nLists lists is PARTITION PRUNING at the parquet scan — the
  * unscanned fraction is never read. Recall/cost trade is tunable per
  * query via nprobe; IvfAnnSpec pins recall and the scanned fraction on
  * the fixture. All vector math is the native `cosine_sim` expression.
  */
object IvfAnn {

  /** Stable per-session memo key. `System.identityHashCode` (the old
    * key) can be REUSED after a session is GC'd, silently serving a
    * stale entry in a long-lived JVM, and entries for dead sessions
    * leak. A random UUID held under a WEAK session key is never
    * reused (fresh session → fresh UUID) and dies with the session,
    * so downstream memo entries keyed by it can never be served to a
    * stranger. (`SparkSession.sessionUUID` is `private[sql]`, hence
    * this local registry.)
    */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private[graft] def sessionKey(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)

  /** Memoized corpus row count per (session, dir) — one count job per
    * session feeds every adaptive-geometry decision below.
    */
  private val corpusCountMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  def corpusCount(spark: SparkSession, dir: String): Long =
    corpusCountMemo.computeIfAbsent(
      (sessionKey(spark), dir),
      _ => java.lang.Long.valueOf(
        graft.Tables.embeddings(spark, dir).count())).longValue()

  /** List count derived from the corpus size: the largest power of two
    * ≤ √N, floored at `floor`. Fixed lists do not survive growth — at
    * nLists=16 a 100× corpus puts 100× more vectors in every list and
    * the probe cost inside one list grows linearly with the corpus (the
    * round-17 sf1 triage measured exactly this on q105/q215); nLists ~
    * √N keeps candidate volume per probe ~ √N and the assignment
    * broadcast at O(√N) rows, the standard IVF sizing (FAISS'
    * guidance is 4√N–16√N; the power-of-two floor keeps the value
    * STABLE across small corpus jitter so fixtures pin it). On the
    * 500-vector test corpus this derives exactly the historical 16, so
    * every literal-16 oracle mirror is unchanged; at the sf0.1 bench
    * corpus (2 000) it derives 32, at the sf1 probe (20 000) 128.
    */
  def adaptiveNLists(spark: SparkSession, dir: String, floor: Int = 16): Int = {
    val n = corpusCount(spark, dir)
    var p = floor
    while (4L * p * p <= n) p *= 2
    p
  }

  /** Probe count PAIRED with the adaptive list count: nprobe =
    * base · nLists/16, so the scanned corpus fraction per query stays
    * pinned at ~base/16 as `adaptiveNLists` grows ∝ √N. The round-18
    * geometry change scaled nLists 16 → 128 at the sf1 probe while
    * every probing entry kept nprobe = 1 — the scanned fraction
    * silently fell 8× and the recall operating point moved unmeasured
    * (the round-18 audit's one defect). This derivation restores the
    * historical operating point at every corpus size: on the
    * 500-vector oracle corpus nLists = 16 derives base·1, so all
    * literal-nprobe oracle mirrors are unchanged; at sf0.1 (32 lists)
    * it derives 2·base, at the sf1 probe (128 lists) 8·base. The
    * recall-vs-nprobe curve AT each geometry is measured by the q229
    * audit device (`SimilarityQueries.nprobeCurve`; wide-grid numbers
    * for the larger corpora in BASELINE.md) — the fraction-pinned
    * posture is the measured-safe default, and per-query overrides ride
    * `base`.
    */
  def adaptiveNProbe(spark: SparkSession, dir: String, base: Int = 1): Int =
    math.max(base, base * (adaptiveNLists(spark, dir) / 16))

  /** Assign every vector to its nearest of `nLists` centroids.
    * Returns (index, centroids): index = (vec_id, label, embedding,
    * list_id); centroids = (list_id, centroid). If the input carries a
    * precomputed `nrm` column (a `preppedEmb` frame), it rides through
    * the assignment struct so downstream consumers skip their own norm
    * pass.
    */
  def build(spark: SparkSession, emb: DataFrame, nLists: Int): (DataFrame, DataFrame) = {
    // hash-stratified sample seeding: the first nLists vectors in
    // md5(vec_id) order — a deterministic uniform draw over the WHOLE
    // corpus. First-N-by-vec_id (the old rule) inherits ingestion
    // order: on a real corpus the earliest ids can all come from one
    // source/region, seeding every centroid in one corner of embedding
    // space and skewing list occupancy (breaking both recall and the
    // √N probe-cost bound). The md5 rank is independent of arrival
    // order, costs one TakeOrdered over (32-char hash, id), and is
    // replayable verbatim in the oracle (`ORDER BY md5(vec_id::VARCHAR)`).
    val seedOrd = Seq(md5(col("vec_id").cast("string")), col("vec_id"))
    val centroids = emb
      .orderBy(seedOrd: _*).limit(nLists)
      .select(row_number().over(Window.orderBy(seedOrd: _*)).cast("int").as("list_id"),
        col("embedding").as("centroid"))
    val hasNrm = emb.columns.contains("nrm")
    // spread a one-file scan before the broadcast kernel cross-join; an
    // already-materialized (checkpointed) input at full parallelism must
    // NOT pay a second full shuffle of the vector data (split-count
    // gate, shared with the text pipelines — Tables.spread)
    val spreadEmb = graft.Tables.spread(emb)
    // nearest centroid via lexicographic struct-max (sim desc, list_id
    // asc) — partial-aggregates map-side, so one row per vector shuffles
    // instead of the n·nLists assignment stream through a ranking window;
    // label/embedding ride in the struct (never compared: -list_id is
    // unique per vector)
    val carried = Seq(col("label"), col("embedding")) ++
      (if (hasNrm) Seq(col("nrm")) else Nil)
    val index = spreadEmb
      .crossJoin(broadcast(centroids))
      .selectExpr(Seq("vec_id", "label", "embedding", "list_id",
        "cosine_sim(embedding, centroid) AS sim") ++
        (if (hasNrm) Seq("nrm") else Nil): _*)
      .groupBy("vec_id")
      .agg(max(struct(Seq(col("sim"), (-col("list_id")).as("neg")) ++ carried: _*)).as("b"))
      .select(Seq(col("vec_id"), col("b.label").as("label"),
        col("b.embedding").as("embedding"), (-col("b.neg")).as("list_id")) ++
        (if (hasNrm) Seq(col("b.nrm").as("nrm")) else Nil): _*)
    (index, centroids)
  }

  /** Session-scoped memo of built indexes, keyed by (session, dir,
    * nLists). Several entries consume the SAME index geometry (q46b's
    * all-NN, q78's near-dup pairs, q63's full-probe search all run 16
    * lists over the same table); at 100 TB the shared artifact is the
    * `partitionBy(list_id)` parquet layout written ONCE and scanned by
    * every consumer — this memo is the local-session materialization of
    * exactly that: the assignment pass (scan + kernel cross-join +
    * struct-max shuffle) and the per-row norm pass run once, and every
    * later consumer reads the checkpointed blocks. The returned index
    * carries `nrm` precomputed; `allNnRun`/`nearDupPairs` detect it and
    * skip their own norm+checkpoint stage.
    */
  private val shared =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), (DataFrame, DataFrame)]()

  /** Scan + per-row norm + materialization, shared across GEOMETRIES:
    * q46's 8-list and q46b/q78/q63's 16-list indexes differ only in
    * their centroid sets — the parquet scan, the spread repartition, and
    * the O(n·d) `nrm` pass are identical, so they run ONCE per (session,
    * dir) and every `buildShared` geometry reads the checkpointed blocks
    * (at 100 TB: the normalized embedding table written once, each
    * geometry's assignment pass a scan over it).
    */
  private val prepped =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  /** RDD ids backing live memo entries. A sweep-level cleanup (Bench's
    * `dropSweepState`) blanket-unpersists checkpoint blocks between
    * queries; the memo's DataFrames would then reference DEAD blocks
    * with truncated lineage (round-15 regression: all 12 IVF-family
    * queries died with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). Cleanup
    * exempts these ids. Registration snapshots the persistent-RDD set
    * around each memo build; over-protecting a concurrently-persisted
    * stranger is benign (it is merely retained).
    */
  private val memoRdds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Int)]()
  /** Protected ids are SCOPED to the given session's SparkContext: RDD
    * ids restart per context, so after a session stop/restart in one
    * JVM a stale id from the dead context must not shield an unrelated
    * freshly-persisted RDD in the new one. `applicationId` (a
    * per-context-instance string) is the scope key — unlike an
    * identity hash it is never reused after the context is GC'd. */
  def protectedRddIds(spark: org.apache.spark.sql.SparkSession): Set[Int] = {
    val ctx = spark.sparkContext.applicationId
    import scala.jdk.CollectionConverters._
    memoRdds.asScala.collect { case (c, id) if c == ctx => id }.toSet
  }
  /** Public: any session-scoped memo handing out checkpointed frames
    * (SimilarityQueries' PQ fit / grid-IVF assignment) registers its
    * blocks through the same guard. */
  def protecting[T](spark: SparkSession)(body: => T): T = {
    val ctx = spark.sparkContext.applicationId
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = body
    spark.sparkContext.getPersistentRDDs.keySet.diff(before)
      .foreach(id => memoRdds.add((ctx, id)))
    out
  }

  private def preppedEmb(spark: SparkSession, dir: String): DataFrame =
    prepped.computeIfAbsent((sessionKey(spark), dir), _ =>
      protecting(spark) {
        graft.Tables.spread(
          graft.Tables.embeddings(spark, dir)
            .select("vec_id", "label", "embedding"))
          .withColumn("nrm", expr("sqrt(dot_f(embedding, embedding))"))
          .localCheckpoint(true)
      })

  def buildShared(spark: SparkSession, dir: String, nLists: Int): (DataFrame, DataFrame) =
    shared.computeIfAbsent((sessionKey(spark), dir, nLists), _ =>
      protecting(spark) {
        val (index, centroids) = build(spark, preppedEmb(spark, dir), nLists)
        (index.localCheckpoint(true), centroids.localCheckpoint(true))
      })

  /** EXACT nearest neighbor for EVERY vector through the IVF buckets —
    * the all-pairs-NN scale path (q46's answer without q46's full-table
    * broadcast or its |n|² theta-join). Three stages, all equi-joins on
    * `list_id`/`vec_id`:
    *
    *  1. probe: each vector verifies exactly against its `nprobe`
    *     nearest lists (candidate volume ≈ n·nprobe/nLists of the
    *     pair space) → per-vector provisional best.
    *  2. prune: for every unprobed (vector, list) pair, the triangle
    *     inequality on ANGLES bounds the best similarity the list can
    *     possibly hold: angle(v,x) ≥ angle(v,c_j) − max_x angle(c_j,x),
    *     so cos_sim(v,x) ≤ cos(max(0, θ_vj − r_j)). Lists whose bound
    *     cannot beat the provisional best (minus a safety margin that
    *     absorbs rounding ties and acos conditioning near cos ≈ 1) are
    *     eliminated — n·nLists scalar rows, no vector data moves.
    *  3. escape: the surviving (vector, list) pairs — empty unless a
    *     true neighbor straddles a bucket boundary — are verified
    *     exactly, and the union re-ranked.
    *
    * Exact BY CONSTRUCTION (the bound is mathematical, the margin only
    * over-escapes), so it shares q46's oracle. At 100 TB: stage 1 is the
    * bucketed candidate join (nLists ~ √n makes it n^1.5), stage 2 is
    * linear, stage 3 is data-dependent small; nothing is broadcast but
    * the nLists-row centroid table.
    */
  def allNnExact(index: DataFrame, centroids: DataFrame, nprobe: Int,
      checkpoint: Boolean = true): DataFrame =
    allNnRun(index, centroids, nprobe, checkpoint).result

  /** The stage frames of one `allNnExact` run, exposed so the prune
    * payoff is MEASURABLE instead of asserted in prose: `foreign` is
    * every unprobed (vector, list) pair the bound gets to veto,
    * `escapes` the survivors that must verify exactly. escapes/foreign
    * is the escape fraction — ~1.0 on random fixtures (nothing can
    * prune 90° list radii), collapsing on clustered corpora
    * (`IvfAnnSpec` pins both numbers through these frames).
    */
  private[graft] final case class AllNnRun(
      probes: DataFrame, foreign: DataFrame, escapes: DataFrame, result: DataFrame)

  private[graft] def allNnRun(index: DataFrame, centroids: DataFrame, nprobe: Int,
      checkpoint: Boolean = true): AllNnRun = {
    // reused frames are checkpointed so each fan-out consumer reads the
    // materialized rows instead of re-running its subtree (`checkpoint =
    // false` keeps full lineage for plan-shape tests)
    def chk(df: DataFrame): DataFrame = if (checkpoint) df.localCheckpoint(true) else df
    // both inputs fan out to several consumers below (angles, radii, two
    // verify joins, the neighbor side) — checkpoint so the assignment
    // pass (kernel cross-join + struct-max agg) runs ONCE, not per consumer
    // norms once per row (O(n·d)); the O(pairs·d) verify kernel is then
    // the 1-FMA `dot_f` — bit-identical to the fused `cosine_sim`.
    // An index from `buildShared` arrives with `nrm` attached and
    // already materialized — reuse it as-is (re-checkpointing would
    // copy the blocks per consumer query).
    val idx =
      if (index.columns.contains("nrm")) index
      else chk(index.withColumn("nrm", expr("sqrt(dot_f(embedding, embedding))")))
    val cents = chk(centroids)
    val theta =
      "acos(greatest(-1.0d, least(1.0d, cast(cosine_sim(%s, centroid) as double))))"
    // per-(vector, list) angle — n·nLists scalar rows
    val va = idx.select("vec_id", "embedding")
      .crossJoin(broadcast(cents))
      .selectExpr("vec_id", "list_id AS cl", s"${theta.format("embedding")} AS th")
      .transform(chk)
    // per-list radius: max angle centroid→member over the list's own rows
    val radii = idx.join(broadcast(cents), "list_id")
      .selectExpr("list_id AS cl", s"${theta.format("embedding")} AS th")
      .groupBy("cl").agg(max("th").as("r"))
    val probeW = Window.partitionBy("vec_id").orderBy(col("th").asc, col("cl").asc)
    val probes = va.withColumn("prnk", row_number().over(probeW))
      .filter(col("prnk") <= nprobe)
      .select(col("vec_id"), col("cl"))
    val nbrs = idx.select(col("vec_id").as("nn_id"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"), col("list_id").as("cl"))
    def verify(pairs: DataFrame): DataFrame =
      pairs.join(idx.select("vec_id", "embedding", "nrm"), "vec_id")
        .join(nbrs, "cl")
        .filter(col("vec_id") =!= col("nn_id"))
        // kernel evaluated ONCE per pair; the rounded ranking value is
        // derived from it in a later projection
        .selectExpr("vec_id", "nn_id",
          "dot_f(embedding, emb_b) / (nrm * nrm_b) AS raw")
        .withColumn("cos", round(col("raw"), 6))
    // q46's oracle ranks on the ROUNDED cosine with nn_id tie-break —
    // lexicographic max over struct(cos, -nn_id) IS that ordering, and
    // unlike a row_number window it partial-aggregates map-side: only
    // one row per vec_id ever shuffles, never the pair stream. The
    // prune threshold uses the winner's RAW value minus the margin, so
    // any candidate that could round into a winning tie still escapes.
    def top1(pairs: DataFrame): DataFrame =
      pairs.groupBy("vec_id")
        .agg(max(struct(col("cos"), (-col("nn_id")).as("neg"), col("raw"))).as("b"))
        .select(col("vec_id"), (-col("b.neg")).as("nn_id"),
          col("b.cos").as("cos"), col("b.raw").as("raw"))
    val best1 = // feeds both the escape filter and the final union
      chk(top1(verify(probes)))
    val margin = 1e-3
    val foreign = va.join(probes.withColumn("probed", lit(1)), Seq("vec_id", "cl"), "left")
      .filter(col("probed").isNull)
    val escapes = foreign
      .join(broadcast(radii), "cl")
      // LEFT join: a vector alone in its probed lists has no provisional
      // best yet — every other list must escape for it
      .join(best1.select(col("vec_id"), col("raw").as("best_raw")), Seq("vec_id"), "left")
      .filter(expr(s"cos(greatest(0.0d, th - r)) >= coalesce(best_raw, -2.0d) - $margin"))
      .select("vec_id", "cl")
    val result = top1(best1.unionByName(verify(escapes)))
      // materialize the n-row answer BEFORE the global sort: the range
      // partitioner's sampling pass would otherwise re-execute the whole
      // escape-verify chain a second time
      .transform(chk)
      .select("vec_id", "nn_id", "cos")
      .orderBy("vec_id")
    AllNnRun(probes, foreign.select("vec_id", "cl"), escapes, result)
  }

  /** EXACT near-duplicate pair detection through the IVF buckets — every
    * unordered pair (i < j) whose cosine similarity rounds (6 dp) to
    * ≥ `minCos`, without a table-sized broadcast or an |n|² theta-join.
    * This is the edge detector of SemDeDup-style semantic dedup
    * (embedding-space near-dups → clusters → one survivor); the closure
    * step is `operators/ConnectedComponents`. Two candidate families,
    * both equi-joins:
    *
    *  1. within-list pairs: self-equi-join on `list_id` with i < j,
    *     verified exactly — near-identical vectors quantize to the same
    *     coarse list, so this is where true near-dups concentrate;
    *  2. cross-list escapes: for each (vector, other-list) pair the
    *     angular triangle inequality caps the best similarity the list
    *     can hold — cos_sim(v, x) ≤ cos(max(0, θ_vj − r_j)) — and lists
    *     whose cap cannot reach `minCos − margin` are pruned with no
    *     vector data moving (n·nLists scalar rows). Survivors verify
    *     exactly, restricted to `vec_id < nn_id`: a qualifying crossing
    *     pair's own cosine witnesses that BOTH endpoints' bounds clear
    *     the filter (bound ≥ raw cos ≥ minCos − margin), so the
    *     lower-id orientation is always generated — the restriction
    *     halves the verify volume and leaves the two candidate
    *     families disjoint with no duplicates (each vector lives in
    *     exactly one list), so no dedup shuffle is needed.
    *
    * Exact BY CONSTRUCTION: the bound is mathematical and the margin
    * only over-escapes (it absorbs the final 6-dp rounding), so q78
    * shares the brute-force all-pairs oracle. Fixture honesty, as with
    * `allNnExact`: RANDOM embeddings have list radii near 90°, the cap
    * never excludes anything, and the verify volume degrades to the
    * full pair space paid through general equi-joins — on clustered
    * corpora (the 100 TB case) the escape set collapses and the cost is
    * ~1/nLists of the pair space. `IvfAnnSpec` pins both regimes.
    */
  def nearDupPairs(index: DataFrame, centroids: DataFrame, minCos: Double,
      checkpoint: Boolean = true): DataFrame = {
    def chk(df: DataFrame): DataFrame = if (checkpoint) df.localCheckpoint(true) else df
    // norms are per-ROW invariants computed once here (O(n·d)); the
    // per-PAIR kernel is then the 1-FMA `dot_f` instead of the fused
    // 3-FMA `cosine_sim` — bit-identical (same fold order, same
    // operands), ~2× on the O(pairs·d) verify stage that dominates.
    // A `buildShared` index arrives with `nrm` attached + materialized.
    val idx =
      if (index.columns.contains("nrm")) index
      else chk(index.withColumn("nrm", expr("sqrt(dot_f(embedding, embedding))")))
    val cents = chk(centroids)
    val theta =
      "acos(greatest(-1.0d, least(1.0d, cast(cosine_sim(%s, centroid) as double))))"
    val radii = idx.join(broadcast(cents), "list_id")
      .selectExpr("list_id AS cl", s"${theta.format("embedding")} AS th")
      .groupBy("cl").agg(max("th").as("r"))
    val nbrs = idx.select(col("vec_id").as("nn_id"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"), col("list_id").as("cl"))
    // margin covers the 6-dp rounding of the verify value: a pair whose
    // raw cosine rounds UP to minCos is still ≥ minCos − margin raw
    val margin = 1e-3
    val within = idx
      .select(col("vec_id"), col("embedding"), col("nrm"), col("list_id").as("cl"))
      .join(nbrs, "cl")
      .filter(col("vec_id") < col("nn_id"))
    val escapes = idx.select("vec_id", "embedding", "list_id")
      .crossJoin(broadcast(cents.select(col("list_id").as("cl"), col("centroid"))))
      .filter(col("list_id") =!= col("cl"))
      .select(col("vec_id"), col("cl"),
        expr(s"${theta.format("embedding")}").as("th"))
      .join(broadcast(radii), "cl")
      .filter(expr(s"cos(greatest(0.0d, th - r)) >= $minCos - $margin"))
      .select("vec_id", "cl")
      .join(idx.select("vec_id", "embedding", "nrm"), "vec_id")
      .join(nbrs, "cl")
      .filter(col("vec_id") < col("nn_id"))
    def scored(pairs: DataFrame): DataFrame =
      pairs.selectExpr("vec_id AS i", "nn_id AS j",
        "round(dot_f(embedding, emb_b) / (nrm * nrm_b), 6) AS cos")
        .filter(col("cos") >= minCos)
    // within (same list) and escapes (cross-list) are disjoint and each
    // generates a pair at most once, so the union IS the answer — no
    // dedup aggregation, nothing shuffles after the verify joins
    scored(within).unionByName(scored(escapes))
  }

  /** Exact top-k within the `nprobe` most promising lists. `query` is a
    * one-row frame with an `embedding` column (kept in the plan —
    * broadcast, not collected).
    */
  def search(index: DataFrame, centroids: DataFrame, query: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val probed = centroids
      .crossJoin(broadcast(query.select(col("embedding").as("qv"))))
      .selectExpr("list_id", "cosine_sim(centroid, qv) AS csim")
      .orderBy(col("csim").desc, col("list_id").asc)
      .limit(nprobe)
      .select("list_id")
    index
      // on a partitionBy(list_id) layout this join prunes parquet
      // partitions; in-memory it is a broadcast semi-join
      .join(broadcast(probed), Seq("list_id"), "left_semi")
      .crossJoin(broadcast(query.select(col("embedding").as("qv"))))
      .selectExpr("vec_id", "label", "round(cosine_sim(embedding, qv), 6) AS cos")
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }
}
