package graft.queries

import graft.Tables
import graft.functions.{CentroidAggregator, VectorOps}
import graft.operators.IvfAnn
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY.md §2B
  * "LLM-pipeline extensions": cosine top-k, grouped ANN, nearest-neighbor
  * pairs, centroid UDAF). All vector math is `VectorOps` — codegen'd
  * higher-order expressions over `ArrayType(FloatType)`, no UDFs.
  *
  * Scale notes:
  *  - q44/q45 (query-vector scans) are the 100 TB-correct ANN baseline: a
  *    single pass over embeddings with a per-row dot product, topped by
  *    `TakeOrderedAndProject` (q44) or a per-label window (q45). One scan,
  *    one bounded shuffle — brute force is linear and embarrassingly
  *    parallel; an IVF/LSH index only changes the scan fraction.
  *  - q46/q46b (all-pairs NN) BOTH run the bucketed exact plan
  *    (`IvfAnn.allNnExact`, 8- vs 16-list geometry) — candidate
  *    equi-joins plus a verified escape pass, nothing table-sized
  *    broadcast. The brute n² broadcast kernel survives only as the
  *    oracle-defining reference (`nnPairsBrute`), not as an entry.
  */
object SimilarityQueries extends QueryModule {

  /** One-row DataFrame holding the query vector (vec_id 0) — joined via
    * broadcast, NOT collected: the lookup stays in the plan, so the same
    * code works when the "query" is itself a table of vectors.
    */
  private def queryVec(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))

  /** q44: brute-force cosine top-k against a query vector.
    * scan → per-row cosine → orderBy().limit(10) = TakeOrderedAndProject
    * (per-partition heaps, k·partitions driver merge — never a global
    * sort).
    */
  def q44CosineTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(queryVec(spark, dir)))
      .select(col("vec_id"), col("label"),
        round(VectorOps.cosine(col("embedding"), col("qv")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)

  /** q45: grouped ANN — top-3 per label against the query vector, via a
    * per-label ranking window (one shuffle on `label`, per-partition
    * sort, early filter).
    */
  def q45AnnGrouped(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("label").orderBy(col("cos").desc, col("vec_id").asc)
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(queryVec(spark, dir)))
      .select(col("vec_id"), col("label"),
        round(VectorOps.cosine(col("embedding"), col("qv")), 6).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("label", "rnk", "vec_id", "cos")
      .orderBy("label", "rnk")
  }

  /** q46: exact nearest neighbor for EVERY vector (embedding-cosine
    * near-dup building block). The SEMANTICS are the brute n² argmax —
    * that is what the oracle SQL states — but the ENTRY runs the
    * IVF-bucketed exact plan (`operators/IvfAnn.allNnExact`, exact by
    * the angular triangle inequality, `IvfAnnSpec` pins == brute on
    * clustered data): candidate generation is an equi-join on
    * `list_id` and nothing but the nLists-row centroid table is ever
    * broadcast. The earlier entry broadcast the ENTIRE embeddings
    * table as the pair-loop build side — fast at bench scale, dead at
    * 100 TB (the one plan shape this library bans; see
    * `nnPairsBrute`). q46 runs an 8-list geometry and q46b a 16-list
    * one, so the same oracle gates two different index layouts of the
    * same exact algorithm; both geometries read ONE shared scan+norm
    * prep (`IvfAnn.preppedEmb`) — only the centroid assignment pass is
    * per-geometry.
    */
  def q46NnPairs(spark: SparkSession, dir: String): DataFrame = {
    val (index, centroids) = IvfAnn.buildShared(spark, dir, nLists = 8)
    IvfAnn.allNnExact(index, centroids, nprobe = 2)
  }

  /** The brute-force n² formulation of q46 — kept as the
    * oracle-defining reference semantics and for small-fixture spec
    * equality checks (`IvfAnnSpec`), NOT in the entry set: the
    * broadcast build side is the whole table, which caps the operator
    * at driver/executor memory and makes it the canonical 100 TB
    * scale-killer. The native `cosine_sim` kernel and rounded-rank
    * tie-break match `IvfAnn.allNnExact` bit-for-bit.
    */
  private[graft] def nnPairsBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val pairs = Tables.embeddingsSpread(spark, dir).select("vec_id", "embedding")
      .join(broadcast(e.select(col("vec_id").as("nn_id"),
        col("embedding").as("emb_b"))),
        col("vec_id") =!= col("nn_id"))
      .selectExpr("vec_id", "nn_id",
        "round(cosine_sim(embedding, emb_b), 6) AS cos")
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nn_id").asc)
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select("vec_id", "nn_id", "cos")
      .orderBy("vec_id")
  }

  /** q46b: the SAME all-pairs-NN answer as q46 through the IVF-bucketed
    * scale path (`operators/IvfAnn.allNnExact`) — candidate generation
    * is an equi-join on `list_id`, boundary cases are caught by an
    * angular-triangle-inequality escape pass, and nothing but the
    * 16-row centroid table is broadcast. Exact by construction, so it
    * shares q46's oracle verbatim — the q42/q42b precedent applied to
    * embeddings. PlanShapeSpec asserts the pair loop has no
    * BroadcastNestedLoopJoin/CartesianProduct (q46's theta-join shape).
    *
    * Measured honesty: the fixture's embeddings are RANDOM, so no exact
    * method can prune — every (vector, list) pair fails the bound
    * (28000/28000 escape at sf0.1) and q46b pays the full n² through
    * general equi-joins, slower locally than the brute broadcast kernel.
    * On clustered corpora (the 100 TB case — real embedding spaces are
    * clustered, that is what makes IVF an index) the escape set
    * collapses and the verify volume drops to ~nprobe/nLists of the
    * pair space; meanwhile the plan never broadcasts a table-sized
    * side, which is the property q46 lacks at scale.
    */
  def q46bNnPairsBucketed(spark: SparkSession, dir: String): DataFrame = {
    // the 16-list index is built once per session and shared with
    // q78/q63 (IvfAnn.buildShared) — locally a checkpointed frame, at
    // 100 TB the partitionBy(list_id) layout every consumer scans
    val nL = IvfAnn.adaptiveNLists(spark, dir)
    val (index, centroids) = IvfAnn.buildShared(spark, dir, nLists = nL)
    IvfAnn.allNnExact(index, centroids, nprobe = 2)
  }

  /** q47: per-label centroid via the typed `Aggregator` UDAF (§2B custom
    * typed UDAF row) — partial/final agg shuffles one (sums, count)
    * buffer per label per partition. First four dims are emitted as
    * scalars for the oracle.
    */
  def q47Centroid(spark: SparkSession, dir: String): DataFrame = {
    val centroid = udaf(new CentroidAggregator)
    Tables.embeddings(spark, dir)
      .groupBy("label")
      .agg(count(lit(1)).as("n"), centroid(col("embedding")).as("c"))
      .select(col("label"), col("n"),
        round(col("c")(0), 6).as("c0"), round(col("c")(1), 6).as("c1"),
        round(col("c")(2), 6).as("c2"), round(col("c")(3), 6).as("c3"))
      .orderBy("label")
  }

  /** q61: q44 re-expressed through the NATIVE `cosine_sim` Catalyst
    * expression (graft.functions.CosineSim, registered by
    * GraftExtensions) — one tight codegen'd loop per row instead of the
    * zip_with/aggregate expression tree. Same semantics, same oracle as
    * q44; CosineSimSpec asserts expression == higher-order bit-for-bit.
    */
  def q61CosineExprTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(queryVec(spark, dir)))
      .selectExpr("vec_id", "label", "round(cosine_sim(embedding, qv), 6) AS cos")
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)

  /** q158: maximum-INNER-PRODUCT top-k via the norm-augmentation
    * reduction (Bachrach et al., RecSys '14; Neyshabur & Srebro, ICML
    * '15): append one dimension sqrt(M² − ‖x‖²) to every corpus vector
    * (M = max corpus norm) and 0 to the query, and every augmented
    * vector has norm exactly M — so cosine against the augmented query
    * is dot(x,q)/(M·‖q‖), a fixed positive rescaling of the inner
    * product, and the ENTIRE cosine index stack (q63's IVF lists, q84's
    * SRP buckets, q143's PQ tables) becomes a MIPS index with no new
    * operator. That matters because recommendation/retrieval scoring is
    * inner product (un-normalized embeddings carry magnitude as
    * popularity), while everything upstream here indexes cosine.
    *
    * Plan shape: one aggregate for M (1-row broadcast), one scan with
    * per-row augmentation, then the production index-and-rerank split:
    * CANDIDATES are the top-20 by the augmented-cosine key (the
    * reduction under test — `TakeOrderedAndProject`, and at 100 TB this
    * stage is served by the cosine index, not a scan), RERANK is the
    * exact top-10 by rounded inner product over those 20 rows. Division
    * by the constant M·‖q‖ is monotone in IEEE double, so the candidate
    * ranking IS the inner-product ranking and the margin is belt-and-
    * suspenders for the rounding seam. The augmented-norm invariant
    * (‖aug(x)‖ ≡ M) and aug-ranking == ip-ranking equality are
    * spec-pinned in CosineSimSpec.
    */
  def q158MipsTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val maxNorm = emb.agg(max(round(VectorOps.norm(col("embedding")), 6)).as("mx"))
    val aug = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(maxNorm))
      .withColumn("augx",
        concat(col("embedding"), array(
          sqrt(greatest(lit(0.0), col("mx") * col("mx")
            - VectorOps.dot(col("embedding"), col("embedding")))).cast("float"))))
    aug.crossJoin(broadcast(queryVec(spark, dir)))
      .withColumn("augq", concat(col("qv"), array(lit(0.0f))))
      .select(col("vec_id"), col("label"),
        round(VectorOps.dot(col("embedding"), col("qv")), 6).as("ip"),
        VectorOps.cosine(col("augx"), col("augq")).as("aug_cos"))
      .orderBy(col("aug_cos").desc, col("vec_id").asc)
      .limit(20) // candidate margin: aug ranking == ip ranking exactly in
                 // real arithmetic; 2× covers any float/rounding seam
      .select(col("vec_id"), col("label"), col("ip"))
      .orderBy(col("ip").desc, col("vec_id").asc)
      .limit(10)
  }

  /** q63: IVF-ANN search through the oracle gate. Build the inverted-file
    * index (16 coarse lists, one broadcast assignment pass — see
    * `operators/IvfAnn`), then search at FULL probe (nprobe = nLists):
    * every list is scanned, so the result is exactly q44's brute-force
    * top-k and shares its oracle. The recall/scan-fraction trade at
    * partial probe (the 100 TB operating point, where `list_id` is a
    * parquet partition key and unprobed lists are never read) is pinned
    * separately by `IvfAnnSpec` (recall monotone in nprobe, scan
    * fraction measured).
    */
  def q63IvfFullProbe(spark: SparkSession, dir: String): DataFrame = {
    // shares the session-wide 16-list index (built over the FULL table,
    // so its centroid seeds differ from a query-excluded build — at
    // FULL probe every list is scanned, so the answer is exact under
    // any centroid geometry) and drops the query vector post-build
    val nL = IvfAnn.adaptiveNLists(spark, dir)
    val (index, centroids) = IvfAnn.buildShared(spark, dir, nLists = nL)
    IvfAnn.search(index.filter(col("vec_id") =!= 0), centroids,
      Tables.embeddings(spark, dir).filter(col("vec_id") === 0),
      k = 10, nprobe = nL)
  }

  /** q68: int8 embedding quantization + quantized-cosine top-k — the
    * memory-side half of a vector-search engine (a 100 TB embedding
    * store is 4× smaller and 4× more cache-dense in int8; IVF lists —
    * `operators/IvfAnn` — store quantized codes and re-rank survivors
    * in float). Per-vector SYMMETRIC quantization: scale = 127/max|x|,
    * code = clamp(⌊x·scale + 0.5⌋, −127, 127) — all array-local
    * projections over the scan, no shuffle, no state. Cosine is
    * scale-invariant, so the quantized similarity is computed directly
    * on the codes (cast back to float for the native codegen'd
    * `cosine_sim` kernel) with no dequantization pass; the output
    * carries the exact float cosine and the absolute quantization
    * error per row, so the query doubles as the accuracy probe for the
    * int8 storage path. Rounding uses ⌊x+0.5⌋, which both engines
    * evaluate identically on doubles (banker's-rounding `round` does
    * not match across engines).
    */
  def q68QuantizedCosine(spark: SparkSession, dir: String): DataFrame = {
    val quantize: String => String = c =>
      s"transform($c, x -> cast(greatest(-127.0d, least(127.0d, " +
        s"floor(cast(x as double) * 127.0d / mx_$c + 0.5d))) as float))"
    def quantized(df: DataFrame, c: String): DataFrame = df
      .withColumn(s"mx_$c", expr(s"array_max(transform($c, x -> abs(cast(x as double))))"))
      .filter(col(s"mx_$c") > 0)
      .withColumn(s"q_$c", expr(quantize(c)))
    val base = quantized(
      Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0), "embedding")
    val qv = quantized(queryVec(spark, dir), "qv")
      .select(col("qv"), col("q_qv"))
    base.crossJoin(broadcast(qv))
      .selectExpr("vec_id", "label",
        "round(cosine_sim(q_embedding, q_qv), 6) AS qcos",
        "round(abs(cosine_sim(q_embedding, q_qv) - cosine_sim(embedding, qv)), 5) AS qerr")
      .orderBy(col("qcos").desc, col("vec_id").asc)
      .limit(10)
  }

  /** q77: k-means curation clustering (`operators/KMeans`) — the
    * clustering step of cluster-balanced corpus curation: k = 8
    * clusters, 2 Lloyd iterations, deterministic seeds (the 8 smallest
    * vec_ids) and ROUND-6 centroid snapping between iterations, so the
    * DuckDB oracle replays the exact trajectory (assignment argmin,
    * per-dim means, re-assignment). Output: one row per surviving
    * cluster — size and the first four dimensions of the members' mean
    * under the FINAL assignment. Per iteration nothing shuffles but one
    * (sums, count) buffer per cluster per partition; the centroid state
    * is 8 rows.
    */
  def q77Kmeans(spark: SparkSession, dir: String): DataFrame = {
    val (asg, _) = graft.operators.KMeans.fit(
      Tables.embeddings(spark, dir), k = 8, iters = 2)
    asg.groupBy(col("cid").as("cluster_id"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("embedding")(0).cast("double")), 6).as("c0"),
        round(avg(col("embedding")(1).cast("double")), 6).as("c1"),
        round(avg(col("embedding")(2).cast("double")), 6).as("c2"),
        round(avg(col("embedding")(3).cast("double")), 6).as("c3"))
      // 8-row result: materialize before the global sort so the range
      // partitioner's sampling pass doesn't re-run the iteration chain
      .localCheckpoint(true)
      .orderBy("cluster_id")
  }

  /** q156: CLUSTER TOPIC LABELING — the reporting step a curation
    * pipeline runs after q77's clustering: each semantic cluster is
    * summarized by its top-3 member-document terms (doc i ↔ embedding
    * i), the human-readable "what is this cluster" view (and the input
    * to cluster-level include/exclude decisions in a data mix). Ranking
    * is INTEGER term counts under (cnt desc, term asc) — no float
    * anywhere past the replayed k-means trajectory.
    *
    * Scale: the assignment is q77's (scan + 8-row broadcast per
    * iteration); the label pass is one term explode + partial+final agg
    * on (cid, term) + an 8-partition top-3 window (bounded: 8 clusters
    * × vocabulary, the window input is the AGGREGATED term table, never
    * the token stream).
    */
  def q156ClusterTopics(spark: SparkSession, dir: String): DataFrame = {
    val (asg, _) = graft.operators.KMeans.fit(
      Tables.embeddings(spark, dir), k = 8, iters = 2)
    val terms = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val counts = asg.select(col("vec_id").as("doc_id"), col("cid"))
      .join(terms, "doc_id")
      .groupBy("cid", "term").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("cid")
      .orderBy(col("cnt").desc, col("term").asc)
    counts.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("cid").as("cluster_id"), col("rnk"), col("term"), col("cnt"))
      .orderBy("cluster_id", "rnk")
  }

  /** q397: SIMPLIFIED SILHOUETTE (the centroid-based silhouette of
    * Hruschka '04 — what clustering evals actually compute at scale,
    * since the full silhouette is O(n²)): for each point a = distance
    * to its own centroid, b = nearest OTHER centroid,
    * s = (b−a)/max(a,b); reported per cluster and overall. The
    * cluster-quality judgment q77's k-means itself cannot render —
    * low mean s flags clusters that should merge, negative s flags
    * misassigned points.
    *
    * Determinism: q77's replayed trajectory supplies round-6 snapped
    * FINAL centroids; each point's squared distances fold
    * left-to-right in double (the KMeans.assign association order —
    * the oracle mirrors with list_reduce, whose first-element seed
    * equals the 0.0-seeded fold exactly in IEEE); s snaps to the
    * 10⁻⁹ grid per point BEFORE cluster sums. Scale: one 8-row
    * centroid broadcast over the scan + a key agg — no pairwise
    * anything.
    */
  def q397Silhouette(spark: SparkSession, dir: String): DataFrame = {
    val (asg, cents) = graft.operators.KMeans.fit(
      Tables.embeddings(spark, dir), k = 8, iters = 2)
    val d = asg.crossJoin(broadcast(cents.withColumnRenamed("cid", "ccid")))
      .withColumn("d2", expr(
        """aggregate(zip_with(embedding, cv,
          |            (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),
          |          0.0d, (acc, z) -> acc + z)""".stripMargin))
      .groupBy("vec_id", "cid")
      .agg(min(when(col("ccid") === col("cid"), col("d2"))).as("a2"),
        min(when(col("ccid") =!= col("cid"), col("d2"))).as("b2"))
    val scored = d.selectExpr("cid", "sqrt(a2) AS a", "sqrt(b2) AS b")
      .selectExpr("cid",
        "CAST(floor((b - a) / greatest(a, b) * 1000000000.0 + 0.5) AS BIGINT) AS s_u")
    val per = scored.groupBy("cid")
      .agg(count(lit(1)).as("n"), sum("s_u").as("ss"))
    val tot = per.agg(sum("n").as("nt"), sum("ss").as("st"))
    per.crossJoin(broadcast(tot))
      .selectExpr("cid AS cluster_id", "n",
        "round(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) / 1.0e9, 6) AS mean_silhouette",
        "round(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) / 1.0e9, 6) AS overall_silhouette")
      .orderBy("cluster_id")
  }

  /** q142: PRODUCT QUANTIZATION (Jégou et al., PAMI 2011) — the
    * compression scheme production ANN indexes (IVF-PQ) store codes in:
    * the 64-dim embedding splits into m = 4 contiguous 16-dim
    * subspaces, each subspace trains its own k = 8 codebook with the
    * SAME deterministic Lloyd recipe as q77 (smallest-id seeds, 2
    * snapped iterations — four independent replayable trajectories),
    * and every vector is encoded as 4 code ids (2^4·3 bits standing in
    * for 256 float bytes; real deployments use m=8..64, k=256 — the
    * knobs scale, the dataflow doesn't change). Output gates the codes
    * AND the reconstruction error ‖x − ĉ(x)‖² against the FINAL
    * codebooks (what ADC search would use), so both the four
    * trajectories and the encode step are hash-pinned.
    *
    * Scale shape: each subspace fit is q77's plan (scan + 8-row
    * broadcast + partial agg per iteration) over a 16-dim SLICE — the
    * embedding table never shuffles; encoding joins each assignment to
    * its 8-row broadcast codebook; the 4 per-subspace code streams
    * rejoin on vec_id (hash exchanges of 3-column rows, never raw
    * vectors).
    */
  /** The four per-subspace PQ fits shared by q142 (codes + reconstruction
    * error) and q143 (ADC search): for subspace s, the 16-dim slice's
    * q77-recipe k-means — (assignments a2, FINAL codebooks c2), both
    * deterministic, replayable trajectories.
    */
  private val pqFitMemo = new java.util.concurrent.ConcurrentHashMap[
    (Int, String), Seq[(DataFrame, DataFrame)]]()

  private def pqSubspaceFit(spark: SparkSession, dir: String): Seq[(DataFrame, DataFrame)] =
    // memoized per (session, dir) like IvfAnn.buildShared — q142, q143
    // and q147 all consume the same four trajectories, and at 100 TB the
    // codebooks + codes are a written-once artifact every query reads
    pqFitMemo.computeIfAbsent((System.identityHashCode(spark), dir), _ =>
      // protected from sweep-level unpersist like IvfAnn's memo — a
      // blanket cleanup would leave these frames on dead blocks
      graft.operators.IvfAnn.protecting(spark) {
        val emb = Tables.embeddings(spark, dir)
        (0 until 4).map { s =>
          val sliced = emb.select(col("vec_id"),
            expr(s"slice(embedding, ${s * 16 + 1}, 16)").as("embedding"))
          val (asg, cents) = graft.operators.KMeans.fit(sliced, k = 8, iters = 2)
          (asg.localCheckpoint(true), cents.localCheckpoint(true))
        }
      })

  /** Left-to-right double fold of Σ (xᵢ − yᵢ)² over two array columns —
    * the association order `KMeans.assign` and the oracle's list
    * comprehension both use, so snapped inputs give bit-identical sums.
    */
  private def sqDist(x: String, y: String): Column = expr(
    s"""aggregate(zip_with($x, $y,
       |            (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),
       |          0.0d, (acc, z) -> acc + z)""".stripMargin)

  def q142PqCodes(spark: SparkSession, dir: String): DataFrame = {
    val subs = pqSubspaceFit(spark, dir).zipWithIndex.map { case ((asg, cents), s) =>
      asg.join(broadcast(cents), "cid")
        // same fold order as KMeans.assign — the oracle's comprehension
        // sums the identical doubles left-to-right
        .withColumn("e", sqDist("embedding", "cv"))
        .select(col("vec_id"), col("cid").as(s"c$s"), col("e").as(s"e$s"))
    }
    subs.reduce((a, b) => a.join(b, "vec_id"))
      .select(col("vec_id"), col("c0"), col("c1"), col("c2"), col("c3"),
        round(col("e0") + col("e1") + col("e2") + col("e3"), 6).as("err"))
      .orderBy("vec_id")
  }

  /** q143: ADC top-k SEARCH over q142's PQ codes (Jégou et al., PAMI
    * 2011 §IV — asymmetric distance computation, the query step of a
    * production IVF-PQ index): per subspace, the query slice's squared
    * distance to each of the 8 FINAL centroids builds an 8-row DISTANCE
    * TABLE; a database vector's approximate distance is then 4 table
    * lookups summed — the vectors themselves are never touched at query
    * time, only their 4-code rows. Top-10 by (adist, vec_id).
    *
    * Scale shape: this is the reason PQ exists at 100 TB — the search
    * scans the CODES table (4 small ints/row, ~1/50th the bytes of the
    * raw vectors) and joins each code stream to its broadcast 8-row
    * distance table; ranking is `TakeOrderedAndProject` (per-partition
    * heaps), never a global sort. The fit cost is q142's (amortized
    * across queries in production); the per-query marginal plan touches
    * no embedding bytes.
    */
  def q143PqAdcSearch(spark: SparkSession, dir: String): DataFrame =
    pqAdcRows(spark, dir)
      .filter(col("vec_id") =!= 0)
      .orderBy(col("adist").asc, col("vec_id").asc)
      .limit(10)

  /** Per-vector ADC rows (vec_id, c0..c3, adist vs the vec_id-0 query)
    * shared by q143 (flat scan) and q147 (IVF-pruned).
    */
  private def pqAdcRows(spark: SparkSession, dir: String): DataFrame = {
    val subs = pqSubspaceFit(spark, dir).zipWithIndex.map { case ((asg, cents), s) =>
      val qslice = queryVec(spark, dir)
        .select(expr(s"slice(qv, ${s * 16 + 1}, 16)").as("qv"))
      // 8-row distance table: query slice vs the FINAL codebook (what a
      // deployed ADC index stores), same fold order as q142's err
      val dt = cents.crossJoin(broadcast(qslice))
        .select(col("cid"), sqDist("qv", "cv").as("d"))
      asg.select(col("vec_id"), col("cid"))
        .join(broadcast(dt), "cid")
        .select(col("vec_id"), col("cid").as(s"c$s"), col("d").as(s"d$s"))
    }
    subs.reduce((a, b) => a.join(b, "vec_id"))
      .select(col("vec_id"), col("c0"), col("c1"), col("c2"), col("c3"),
        round(col("d0") + col("d1") + col("d2") + col("d3"), 6).as("adist"))
  }

  /** q147: the FULL production ANN index — IVF coarse pruning composed
    * with PQ-ADC ranking (IVF-PQ, Jégou et al. PAMI 2011 §V; what FAISS
    * deploys as `IndexIVFPQ`). The query routes through the
    * integer-grid coarse quantizer (q105's exact-argmax device,
    * `adaptiveNLists` lists) to its `adaptiveNProbe` nearest lists —
    * nprobe tracks nLists, so the scanned fraction is pinned at every
    * corpus size (nprobe = 1 on the oracle corpus); only those lists'
    * members are ranked, and the ranking is q143's ADC — 4 code
    * lookups per candidate, no embedding bytes touched. Output: top-10
    * of the probed lists by (adist, vec_id), plus the codes.
    *
    * Scale shape: the two index structures compose their savings — the
    * coarse quantizer prunes the SCAN to nprobe/nLists of the
    * partitioned code table (parquet `partitionBy(list_id)` partition
    * pruning at 100 TB), and PQ shrinks what's scanned to 4 small ints
    * per row. The only non-broadcast exchanges are the build-time ones
    * (shared, memoized); the query-time marginal plan is a pruned code
    * scan + four 8-row broadcast joins + TakeOrderedAndProject.
    */
  def q147IvfPqSearch(spark: SparkSession, dir: String): DataFrame = {
    val gi = gridIvfProd(spark, dir)
    // the query's adaptiveNProbe nearest lists (its probe set); each
    // candidate lives in exactly one list, so the probed union is
    // duplicate-free
    val qList = gi.probes.filter(col("vec_id") === 0).select(col("list_id"))
    val cand = gi.assigned.join(broadcast(qList), "list_id")
      .filter(col("vec_id") =!= 0).select("vec_id")
    pqAdcRows(spark, dir)
      .join(cand, "vec_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
      .limit(10)
  }

  /** q79: cluster-BALANCED curation sampling — the downstream step
    * k-means exists for in a data-mix pipeline: cap every semantic
    * cluster at the same budget so dominant clusters stop dominating
    * the training mix. Composition of q77's deterministic k-means and
    * q69's md5-byte membership test:
    *
    *  1. cluster: `KMeans.fit` (k = 8, 2 iterations, replayable
    *     trajectory);
    *  2. budget: per-cluster keep-rate = target/size, materialized as
    *     an md5-byte threshold `least(256, ceil(256·target/n_total))`
    *     — an 8-row dim, broadcast;
    *  3. keep: a vector survives iff its md5 first byte clears its
    *     cluster's threshold — scan-local, deterministic, no window
    *     (a per-cid `row_number` would shuffle the whole table into k
    *     partitions; the rate test touches nothing).
    *
    * Output census per cluster: size, threshold, kept count, and the
    * kept-id sum as a membership fingerprint. The oracle replays the
    * full trajectory AND the same byte test.
    */
  /** The budget-and-keep core of q79 over an assignment (vec_id, cid) —
    * exposed so `PlanShapeSpec` can assert the shape (k-row budgets
    * broadcast, no Window) without the checkpoint barriers hiding it.
    */
  private[graft] def clusterBalancedCensus(asg: DataFrame, target: Int): DataFrame = {
    val budgets = asg.groupBy("cid")
      .agg(count(lit(1)).as("n_total"))
      .withColumn("thr",
        least(lit(256), ceil(lit(256.0 * target) / col("n_total"))).cast("int"))
    asg.join(broadcast(budgets), "cid")
      .filter(conv(substring(md5(col("vec_id").cast("string")), 1, 2), 16, 10)
        .cast("int") < col("thr"))
      .groupBy(col("cid").as("cluster_id"), col("n_total"), col("thr"))
      .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("sum_kept"))
  }

  def q79ClusterSample(spark: SparkSession, dir: String): DataFrame = {
    val (asg, _) = graft.operators.KMeans.fit(
      Tables.embeddings(spark, dir), k = 8, iters = 2)
    // fans out to the budget agg and the kept filter — materialize the
    // assignment once instead of re-running both Lloyd iterations per
    // consumer
    val a = asg.select("vec_id", "cid").localCheckpoint(true)
    clusterBalancedCensus(a, target = 8)
      // 8-row result: materialize before the global sort so the range
      // partitioner's sampling pass doesn't re-run the chain
      .localCheckpoint(true)
      .orderBy("cluster_id")
  }

  /** Deterministic signed-random-projection hyperplanes for q84:
    * `nPlanes` planes × 64 dims, each component derived from
    * md5("srp_p_i") — the same strings DuckDB hashes, so the oracle
    * rebuilds the identical planes. Components are kept as the raw
    * INTEGERS in [-500, 500] (the plane is mathematically k/500, but
    * sign(Σ x·k/500) = sign(Σ x·k), so the scale divides out): the sign
    * bit is then the sign of an exact integer dot, bit-stable under any
    * summation order in any engine — a float dot's sign flips on a
    * near-zero projection depending on association order, which is the
    * q88 failure class.
    */
  private def srpPlanes(nPlanes: Int): Seq[Seq[Long]] = {
    def h8(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    (0 until nPlanes).map { p =>
      (0 until 64).map(i => (h8(s"srp_${p}_${i}") % 1001L) - 500L)
    }
  }

  /** q84: embedding near-dup via signed-random-projection LSH (hyperplane
    * LSH, Charikar STOC '02 — the SimHash geometry applied to dense
    * vectors): 16 deterministic hyperplanes → 16 sign bits per vector →
    * 4 bands × 4 bits; two vectors are CANDIDATES iff they agree on all
    * 4 bits of some band, and candidates are verified with the exact
    * native cosine. Complements the IVF route (q78): SRP needs no
    * training pass and its signature is a compact literal (2 bytes/vector
    * here) that ships through any shuffle.
    *
    * Scale shape: the sign bits are scan-local integer dot products
    * against BROADCAST-SIZE literals (nPlanes×64 longs baked into the
    * plan; the embedding snaps to the ⌊x·2^20 + 0.5⌋ grid first, so
    * the sign is order-invariant and cross-engine bit-stable);
    * the signature table that self-joins is (vec_id, band, key) —
    * narrow, never the vectors; the verify pass re-joins `embeddings`
    * by key on both sides. No table-sized broadcast, no cartesian
    * (plan-asserted).
    *
    * Parameterization is the scale knob: bucket count per band is
    * 2^bandBits, and the in-bucket verify is quadratic per bucket, so
    * bandBits must grow with log₂(n). The fixture gate runs 16 planes
    * as 4 bands × 4 bits (16 buckets — right for 500 vectors, where
    * ~22% of RANDOM pairs collide somewhere: θ≈90°, (1/2)⁴ × 4 bands);
    * a corpus-scale run uses e.g. 96 planes as 6 bands × 16 bits
    * (65 536 buckets per band → bucket size n/65k, same plan shape,
    * same collision probability CURVE shifted to high-cosine pairs).
    */
  def q84SrpLsh(spark: SparkSession, dir: String): DataFrame =
    srpLshPairs(spark, dir, nBands = 4, bandBits = 4)

  private[graft] def srpLshPairs(
      spark: SparkSession, dir: String, nBands: Int, bandBits: Int): DataFrame = {
    // the sign bits are computed on an INTEGER grid end to end: the
    // embedding snaps to q = ⌊x·2^20 + 0.5⌋ (the q88/q68 idiom) and the
    // plane components are already integers, so Σ q·k is an exact long
    // sum (|q| ≤ 2^21, |k| ≤ 500, 64 terms → < 2^37) whose sign cannot
    // depend on summation order — the oracle's arbitrary-order sum(...)
    // lands on the identical integer, so the buckets match by
    // construction, not by float luck
    val e = Tables.embeddingsSpread(spark, dir).select("vec_id", "embedding")
      .withColumn("qe", transform(col("embedding"),
        x => floor(x.cast("double") * lit(1048576.0) + lit(0.5)).cast("long")))
    val bits: Seq[Column] =
      srpPlanes(nBands * bandBits).map(pl =>
        when(aggregate(zip_with(col("qe"), typedlit(pl), (q, k) => q * k),
          lit(0L), (acc, v) => acc + v) > 0L, 1).otherwise(0))
    val bandStructs = (0 until nBands).map { b =>
      val key = (0 until bandBits).map(j => bits(bandBits * b + j) * lit(1 << j)).reduce(_ + _)
      struct(lit(b).as("band"), key.cast("long").as("key"))
    }
    val sig = e
      .select(col("vec_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      // both self-join sides consume the signatures: materialize them
      // once instead of recomputing 16 dot products per row per side
      .localCheckpoint(true)
    val cand = sig.as("a")
      .join(sig.as("b"), col("a.band") === col("b.band") &&
        col("a.key") === col("b.key") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("va"), col("embedding").as("ea")), "va")
      .join(e.select(col("vec_id").as("vb"), col("embedding").as("eb")), "vb")
      .selectExpr("va", "vb", "round(cosine_sim(ea, eb), 6) AS cos")
      .orderBy(col("cos").desc, col("va").asc, col("vb").asc)
      .limit(20)
  }

  /** q114: random-projection dimensionality reduction (the
    * Johnson–Lindenstrauss sketch): every 64-dim embedding is projected
    * onto the 16 deterministic `srpPlanes` directions — the DENSE
    * counterpart of q84, which keeps only the sign bit of the same
    * projection. The reduced vectors preserve pairwise distances within
    * the JL distortion bound while cutting downstream similarity-scan
    * cost 4×; the projection matrix is derived from md5 strings, so the
    * oracle rebuilds it exactly (no shipped state).
    *
    * Determinism (the q105 integer-grid + single-chain idiom): the
    * embedding snaps to the ⌊x·2^20 + 0.5⌋ grid, plane components are
    * integers in [-500, 500], so each coordinate is an EXACT long
    * (|Σ q·k| < 2^37 — order-invariant); the real-scale coordinate is
    * ONE exactly-rounded division by the constant 2^20·500, bit-stable
    * cross-engine with no accumulation-order exposure.
    *
    * Scale: map-only — the 16×64 plane matrix is a plan literal, each
    * row's projection is scan-local arithmetic; no shuffle at all
    * until the gate's cosmetic ORDER BY. At 100 TB this is the shape
    * you want: zero exchanges, whole-stage codegen end to end.
    */
  def q114RandomProjection(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .withColumn("qe", transform(col("embedding"),
        x => floor(x.cast("double") * lit(1048576.0) + lit(0.5)).cast("long")))
    val dims: Seq[Column] = srpPlanes(16).zipWithIndex.map { case (pl, j) =>
      struct(lit(j.toLong).as("dim"),
        aggregate(zip_with(col("qe"), typedlit(pl), (q, k) => q * k),
          lit(0L), (acc, v) => acc + v).as("proj"))
    }
    e.select(col("vec_id"), explode(array(dims: _*)).as("dp"))
      .select(col("vec_id"), col("dp.dim").as("dim"), col("dp.proj").as("proj"))
      .withColumn("y", col("proj").cast("double") / lit(524288000.0))
      .orderBy("vec_id", "dim")
  }

  /** q88: one-pass Gram + covariance of the embedding dimensions — the
    * distributed statistics PCA/whitening starts from. A single scan
    * folds every vector into ONE 2145-long buffer
    * (`SketchAggregators.GramAggregator`: n, per-dim sums, upper
    * triangle of Σx·xᵀ on a 2^20 integer grid); partial buffers merge
    * element-wise, so the shuffle carries ~17 KB per partition
    * regardless of row count — at 100 TB the eigen step on the
    * resulting 64×64 matrix is a driver no-op while the data pass stays
    * embarrassingly parallel. The integer grid makes the moments
    * bit-identical under any partitioning AND across engines: the
    * oracle snaps each float with the same ⌊x·2^20 + 0.5⌋ rule, sums
    * exact integers, and de-scales by the same powers of two, so every
    * downstream double op (exactly-rounded IEEE mul/div on identical
    * operands) agrees bit-for-bit. Output: the upper triangle as
    * (i, j, gram_sum, cov) rows.
    */
  def q88GramCovariance(spark: SparkSession, dir: String): DataFrame = {
    val gram = udaf(new graft.functions.SketchAggregators.GramAggregator(64))
    val m = Tables.embeddingsSpread(spark, dir)
      .agg(gram(col("embedding")).as("m"))
    val pairs = "flatten(transform(sequence(0, 63), " +
      "i -> transform(sequence(i, 63), j -> struct(i AS i, j AS j))))"
    m.select(col("m"), explode(expr(pairs)).as("p"))
      .select(col("m"), col("p.i").cast("long").as("i"), col("p.j").cast("long").as("j"))
      .withColumn("n", element_at(col("m"), 1))
      .withColumn("si", element_at(col("m"), (col("i") + 2).cast("int")))
      .withColumn("sj", element_at(col("m"), (col("j") + 2).cast("int")))
      // 0-based offset of (i,j) in the row-major upper triangle is
      // 65 + i*(129-i)/2 + (j-i); element_at is 1-based
      .withColumn("g", element_at(col("m"),
        (lit(66) + col("i") * (lit(129) - col("i")) / 2 + col("j") - col("i")).cast("int")))
      .select(col("i"), col("j"), round(col("g"), 4).as("gram_sum"),
        round((col("g") - col("si") * col("sj") / col("n")) / (col("n") - 1), 6).as("cov"))
      .orderBy("i", "j")
  }

  /** q105: kNN label transfer through IVF cells — the weak-supervision
    * op an auto-labeling pipeline runs: a 25%% md5-split "unlabeled" set
    * takes the majority label of its 3 nearest labeled neighbors WITHIN
    * its probed IVF cells (nprobe = `IvfAnn.adaptiveNProbe`, the
    * production ANN approximation — nprobe/nLists move together so the
    * scanned corpus fraction per query is pinned at every scale; on the
    * oracle corpus this derives nprobe = 1). This is the repo's first
    * GATED approximate operator: rather than an exact op whose index is
    * an invisible accelerant (q46/q78), here the approximation itself is
    * part of the declared semantics, so the oracle replays the index
    * build — seeding, assignment, candidate set, ranking, vote — and
    * any divergence anywhere flips the hash.
    *
    * Cross-engine exactness by construction (no float luck): embeddings
    * snap to the ⌊x·2²⁰ + 0.5⌋ integer grid (the q88/q84 idiom), so
    * dots and norms are exact BIGINTs, order-invariant under any
    * partitioning; every ranking score is then a SINGLE chain of
    * exactly-rounded IEEE ops on identical integers
    * (`qdot / (√qn_a · √qn_b)`) — bit-identical in both engines with no
    * accumulation-order exposure, which mere `round(,6)` cannot promise
    * (q88's three red rounds). Ties break on ids: assignment by
    * (score desc, list_id asc), kNN by (cos desc, packed id asc), vote
    * by (count desc, label asc).
    *
    * 100 TB: the assignment is one scan × a 16-row broadcast with a
    * map-side struct-max partial agg (one row per vector shuffles); the
    * kNN join is a plain equi-join on `list_id` (pair volume n²/nLists,
    * n^1.5 at nLists ~ √n); the neighbor label rides PACKED into the
    * heap id (vec_id·16 + label), so the top-k needs no second join
    * back to the base table; the candidate stream never sorts — the
    * bounded `TopKAggregator` heap reduces each partition to ≤ k rows
    * per query map-side (q91's shape). `localCheckpoint` materializes
    * the assignment once for both join sides (at 100 TB: the
    * `partitionBy(list_id)` layout written once).
    */
  private val gridIvfMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Int, Int), GridIvf]()

  /** The integer-grid IVF coarse index artifacts shared by the whole
    * gated-approximate family: `assigned` = (vec_id, label, qe, qn,
    * list_id) nearest-list assignment; `cents` = the seed centroid
    * table (list_id, ce, cn); `probes` = (vec_id, list_id), each
    * vector's `np` nearest lists — the production probe set.
    */
  private[graft] final case class GridIvf(
      assigned: DataFrame, cents: DataFrame, probes: DataFrame)

  /** Integer-grid IVF coarse index (⌊x·2²⁰+0.5⌋ per dim makes the dot
    * products exact BIGINTs, so the nearest-list argmax is
    * bit-identical across engines — the q105 device), memoized per
    * (session, dir, nLists, np): q105's kNN, q147's IVF-PQ probe and
    * the q215/q229/q255/q317 audits consume the same artifacts, the
    * local stand-in for a `partitionBy(list_id)` index written once.
    *
    * Seeding is HASH-STRATIFIED (first nLists vectors in md5(vec_id)
    * order — a deterministic uniform draw, immune to the
    * ingestion-order correlation that first-N-by-id seeding inherits
    * on real corpora); np is `IvfAnn.adaptiveNProbe`, pairing the
    * probe count with the √N list count so the scanned fraction stays
    * geometry-stable. Assignment and probe set come out of ONE kernel
    * pass: the broadcast cross-join partial-aggregates map-side into a
    * struct-max (nearest list) AND a bounded top-np heap (probe set),
    * so one row per vector shuffles, never the n·nLists assignment
    * stream. The spread is split-count-gated ([[Tables.spread]]): a
    * scan already carrying the parallelism pays no exchange before the
    * broadcast kernel.
    */
  private def gridIvf(spark: SparkSession, dir: String, nLists: Int, np: Int): GridIvf =
    gridIvfMemo.computeIfAbsent(
      (graft.operators.IvfAnn.sessionKey(spark), dir, nLists, np), _ =>
      graft.operators.IvfAnn.protecting(spark) {
      val grid = "transform(embedding, x -> cast(floor(cast(x as double) * 1048576.0 + 0.5) as bigint))"
      val en = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"), expr(grid).as("qe"))
        .withColumn("qn", expr("dot_l(qe, qe)"))
      val seedOrd = Seq(md5(col("vec_id").cast("string")), col("vec_id"))
      val cents = en.orderBy(seedOrd: _*).limit(nLists)
        .select(row_number().over(Window.orderBy(seedOrd: _*)).cast("int").as("list_id"),
          col("qe").as("ce"), col("qn").as("cn"))
        .localCheckpoint(true)
      val topk = udaf(new graft.functions.SketchAggregators.TopKAggregator(np))
      val both = Tables.spread(en)
        .crossJoin(broadcast(cents))
        .withColumn("qdot",
          expr("dot_l(qe, ce)"))
        .withColumn("score", col("qdot").cast("double") / sqrt(col("cn").cast("double")))
        .groupBy("vec_id")
        .agg(max(struct(col("score"), (-col("list_id")).as("neg"),
          col("label"), col("qe"), col("qn"))).as("b"),
          topk(col("score"), col("list_id").cast("long")).as("pl"))
        .localCheckpoint(true)
      GridIvf(
        assigned = both.select(col("vec_id"), col("b.label").as("label"),
          col("b.qe").as("qe"), col("b.qn").as("qn"), (-col("b.neg")).as("list_id")),
        cents = cents,
        probes = both.select(col("vec_id"), explode(col("pl")).as("kv"))
          .select(col("vec_id"), col("kv.id").cast("int").as("list_id")))
      })

  /** Convenience: the grid index at the production geometry —
    * `adaptiveNLists` lists probed at `adaptiveNProbe` lists/query. */
  private def gridIvfProd(spark: SparkSession, dir: String): GridIvf =
    gridIvf(spark, dir,
      graft.operators.IvfAnn.adaptiveNLists(spark, dir),
      graft.operators.IvfAnn.adaptiveNProbe(spark, dir))

  /** q235: INCREMENTAL IVF INDEX MAINTENANCE — the arrival-batch
    * operation a live ANN index runs between rebuilds: a ~25% md5-slice
    * of vectors plays the NEW batch, the remainder is the indexed BASE;
    * centroids seed from the base alone (the index's frozen quantizer —
    * first 16 base vectors in md5(vec_id) order, `IvfAnn.build`'s
    * hash-sample seeding), the new
    * batch is assigned to the EXISTING lists, and the maintenance
    * report prices the drift: per list, base/new occupancy, new share,
    * the membership-pinning id-sum of arrivals, and a NEEDS_SPLIT flag
    * (occupancy > 2× the average — the rebalance trigger) computed as
    * an integer cross-multiplication (no float boundary).
    *
    * Determinism: the q105 integer grid (⌊x·2²⁰+0.5⌋) makes dots and
    * norms exact BIGINTs; the assignment score is one divide by one
    * sqrt of those integers — bit-identical, order-invariant.
    * Scale: one broadcast of the 16-row centroid table, map-side
    * struct-max assignment (one row per vector shuffles), census-level
    * report. At 100 TB only the ARRIVAL batch is assigned (the base
    * occupancy comes from stored index metadata); the base pass here
    * exists because the fixture gate reports both sides from scratch.
    */
  def q235IvfMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val nLists = 16
    val grid = "transform(embedding, x -> cast(floor(cast(x as double) * 1048576.0 + 0.5) as bigint))"
    val isNew = conv(substring(md5(col("vec_id").cast("string")), 1, 1), 16, 10)
      .cast("int") >= 12
    val en = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(grid).as("qe"))
      .withColumn("is_new", isNew)
    // the frozen quantizer's hash-sample seeding (first 16 BASE vectors
    // in md5(vec_id) order — IvfAnn.build's rule restricted to the base)
    val seedOrd = Seq(md5(col("vec_id").cast("string")), col("vec_id"))
    val cents = en.filter(!col("is_new")).orderBy(seedOrd: _*).limit(nLists)
      .select(row_number().over(Window.orderBy(seedOrd: _*)).cast("int").as("list_id"),
        col("qe").as("ce"))
      .withColumn("cn", expr("dot_l(ce, ce)"))
    val asg = Tables.spread(en)
      .crossJoin(broadcast(cents))
      .withColumn("qdot",
        expr("dot_l(qe, ce)"))
      .withColumn("score", col("qdot").cast("double") / sqrt(col("cn").cast("double")))
      .groupBy("vec_id", "is_new")
      .agg(max(struct(col("score"), (-col("list_id")).as("neg"))).as("b"))
      .select(col("vec_id"), col("is_new"), (-col("b.neg")).as("list_id"))
    val per = asg.groupBy("list_id").agg(
      sum(when(!col("is_new"), 1L).otherwise(0L)).as("n_base"),
      sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
      sum(when(col("is_new"), col("vec_id")).otherwise(0L)).as("new_id_sum"))
    val tot = per.agg(sum(col("n_base") + col("n_new")).as("n_total_all"))
    per.crossJoin(broadcast(tot))
      .select(col("list_id").cast("long").as("list_id"), col("n_base"), col("n_new"),
        (col("n_base") + col("n_new")).as("n_total"),
        round(col("n_new").cast("double") / (col("n_base") + col("n_new")), 6)
          .as("new_share"),
        ((col("n_base") + col("n_new")) * nLists > col("n_total_all") * 2)
          .as("needs_split"),
        col("new_id_sum"))
      .orderBy("list_id")
  }

  def q105KnnLabel(spark: SparkSession, dir: String): DataFrame = {
    val gi = gridIvfProd(spark, dir)
    val isQ = conv(substring(md5(col("vec_id").cast("string")), 1, 2), 16, 10)
      .cast("int") < 64
    // each query searches its adaptiveNProbe nearest lists (the probe
    // set), not just its own assignment — nprobe tracks nLists so the
    // scanned fraction per query is the same at every corpus size
    val q = gi.assigned.filter(isQ)
      .select(col("vec_id"), col("label").as("q_label"),
        col("qe").as("q_qe"), col("qn").as("q_qn"))
      .join(gi.probes, "vec_id")
      .select(col("list_id"), col("vec_id").as("q_id"),
        col("q_label"), col("q_qe"), col("q_qn"))
    val b = gi.assigned.filter(!isQ)
      .select(col("list_id"), (col("vec_id") * 16 + col("label")).as("b_key"),
        col("qe").as("b_qe"), col("qn").as("b_qn"))
    val topk = udaf(new graft.functions.SketchAggregators.TopKAggregator(3))
    q.join(b, "list_id")
      .withColumn("qdot",
        expr("dot_l(q_qe, b_qe)"))
      .withColumn("cos", col("qdot").cast("double") /
        (sqrt(col("q_qn").cast("double")) * sqrt(col("b_qn").cast("double"))))
      .groupBy("q_id", "q_label")
      .agg(topk(col("cos"), col("b_key")).as("top"))
      .select(col("q_id"), col("q_label"), explode(col("top")).as("kv"))
      .select(col("q_id"), col("q_label"),
        pmod(col("kv.id"), lit(16L)).cast("int").as("b_label"))
      .groupBy("q_id", "q_label", "b_label")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("q_id", "q_label")
      .agg(max(struct(col("cnt"), (-col("b_label")).as("neg"))).as("w"),
        sum("cnt").cast("long").as("n_nbrs"))
      .select(col("q_id").as("vec_id"), col("q_label").cast("long").as("label"),
        (-col("w.neg")).cast("long").as("pred"), col("w.cnt").as("n_votes"),
        col("n_nbrs"))
      .orderBy("vec_id")
  }

  /** q210: MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein,
    * SIGIR '98) — the diversification pass a RAG/retrieval pipeline runs
    * on its candidate pool: after q44's relevance top-k', iteratively
    * pick argmax λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s) (λ=½), so each
    * pick is relevant AND far from what's already selected.
    *
    * Scale shape: the CORPUS pays exactly one top-k' TakeOrderedAndProject
    * (the q44 kernel); everything after — the k'² pairwise sims and the
    * k greedy rounds — runs on the BOUNDED pool (12 rows here), with
    * each round an argmax struct-min over ≤k' rows and the loop unrolled
    * into the plan (the q77/q165 round device, localCheckpoint per
    * round). Determinism: all sims round to 6 before any comparison
    * (the q44 ordering contract), argmax ties break on vec_id, and the
    * MMR chain (sq − maxpair)/2 is one fixed op sequence — the oracle
    * unrolls the identical greedy trajectory.
    */
  def q210MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val kPool = 12
    val emb = Tables.embeddings(spark, dir)
    val cand = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(queryVec(spark, dir)))
      .select(col("vec_id"), col("embedding"),
        round(VectorOps.cosine(col("embedding"), col("qv")), 6).as("sq"))
      .orderBy(col("sq").desc, col("vec_id").asc).limit(kPool)
      .localCheckpoint()
    val pair = cand.as("a")
      .join(cand.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        round(VectorOps.cosine(col("a.embedding"), col("b.embedding")), 6).as("sp"))
      .localCheckpoint()
    var selected = cand
      .orderBy(col("sq").desc, col("vec_id").asc).limit(1)
      .select(col("vec_id"), lit(1L).as("rank"), col("sq").as("mmr"))
      .localCheckpoint()
    for (r <- 2 to 3) {
      val pen = cand
        .join(selected.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .join(pair, col("vec_id") === col("i"))
        .join(selected.select(col("vec_id").as("j")), Seq("j"))
        .groupBy(col("vec_id"), col("sq"))
        .agg(max(col("sp")).as("mp"))
      val next = pen
        .select(col("vec_id"), ((col("sq") - col("mp")) / lit(2.0d)).as("mmr"))
        .agg(min(struct((-col("mmr")).as("nm"), col("vec_id"))).as("m"))
        .select(col("m.vec_id").as("vec_id"), lit(r.toLong).as("rank"),
          (-col("m.nm")).as("mmr"))
      selected = selected.unionByName(next).localCheckpoint()
    }
    selected.join(cand.select(col("vec_id"), col("sq")), Seq("vec_id"))
      .select(col("rank"), col("vec_id"), col("sq"), round(col("mmr"), 6).as("mmr"))
      .orderBy("rank")
  }

  /** q211: HARD-NEGATIVE MINING for contrastive training — per anchor
    * (a deterministic 1/37 id-sample), the most similar SAME-label
    * vector (the positive) and the most similar DIFFERENT-label vector
    * (the hard negative): the pair-construction pass behind every
    * embedding fine-tune (SimCSE/DPR-style), where random negatives are
    * too easy and the highest-similarity wrong-label items carry the
    * gradient signal.
    *
    * Scale shape: the anchor set broadcasts (bounded sample), the
    * corpus scans ONCE, and both argmaxes fold in the SAME partial
    * agg (conditional struct-max per anchor — map-side reduces to two
    * structs per anchor per partition; no ranking window, no pair
    * materialization). The production path swaps the brute scan for
    * q63's IVF probe, same downstream. Determinism: the q44 contract —
    * cosine rounded to 6 before comparison, ties on candidate id.
    */
  def q211HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val anchors = emb.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("anchor"), col("label").as("a_label"),
        col("embedding").as("a_emb"))
    emb.select(col("vec_id").as("cand"), col("label").as("c_label"),
        col("embedding").as("c_emb"))
      .join(broadcast(anchors), col("cand") =!= col("anchor"))
      .select(col("anchor"), col("a_label"), col("cand"), col("c_label"),
        round(VectorOps.cosine(col("a_emb"), col("c_emb")), 6).as("cos"))
      .groupBy("anchor", "a_label")
      .agg(
        max(when(col("c_label") === col("a_label"),
          struct(col("cos"), (-col("cand")).as("nid")))).as("p"),
        max(when(col("c_label") =!= col("a_label"),
          struct(col("cos"), (-col("cand")).as("nid")))).as("n"))
      // anchors lacking either class drop, mirroring the oracle's inner join
      .filter(col("p").isNotNull && col("n").isNotNull)
      .select(col("anchor"), col("a_label").cast("long").as("label"),
        (-col("p.nid")).as("pos_id"), col("p.cos").as("pos_cos"),
        (-col("n.nid")).as("neg_id"), col("n.cos").as("neg_cos"))
      .orderBy("anchor")
  }

  /** q215: IVF RECALL@k AUDIT — the measurement every approximate index
    * ships with: for a 1/37 anchor sample, compare the IVF top-5 at
    * the PRODUCTION operating point (q105's probe geometry —
    * `adaptiveNLists` lists, `adaptiveNProbe` probed; nprobe = 1 on
    * the oracle corpus) against the brute-force top-5 ground truth and
    * report the overlap census + mean recall@5. This is the
    * number that justifies (or vetoes) the q63/q105 approximate paths
    * at 100 TB — measured, not guessed, and cheap enough to re-run per
    * index build because the anchor set is a bounded sample.
    *
    * Determinism: both rankings use the q105 single-chain integer-grid
    * cosine (exact BIGINT dots into one double chain — bit-identical,
    * no accumulation-order exposure), ties on candidate id; overlap and
    * recall are exact integers + one divide. Scale: anchors broadcast;
    * ground truth pays anchors×corpus with a map-side bounded heap (the
    * q91 shape — no ranking window, no pair materialization); the
    * approx side restricts to the anchor's list.
    */
  def q215IvfRecall(spark: SparkSession, dir: String): DataFrame = {
    val gi = gridIvfProd(spark, dir)
    val anchors = gi.assigned.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("a_id"),
        col("qe").as("a_qe"), col("qn").as("a_qn"))
    val cands = gi.assigned.select(col("vec_id").as("c_id"),
      col("list_id").as("c_list"), col("qe").as("c_qe"), col("qn").as("c_qn"))
    // the audited operating point IS the production one: each anchor's
    // adaptiveNProbe probed lists (nprobe = 1 on the oracle corpus)
    val aprobes = gi.probes.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("a_id"), col("list_id").as("c_list"))
    val topk = udaf(new graft.functions.SketchAggregators.TopKAggregator(5))
    def top5(pairs: DataFrame): DataFrame = pairs
      .withColumn("qdot", expr("dot_l(a_qe, c_qe)"))
      .withColumn("cos", col("qdot").cast("double") /
        (sqrt(col("a_qn").cast("double")) * sqrt(col("c_qn").cast("double"))))
      .groupBy("a_id").agg(topk(col("cos"), col("c_id")).as("top"))
      .select(col("a_id"), explode(col("top")).as("kv"))
      .select(col("a_id"), col("kv.id").as("c_id"))
    val exact = top5(cands.join(broadcast(anchors), col("c_id") =!= col("a_id")))
    val approx = top5(cands
      .join(broadcast(aprobes), Seq("c_list"))
      .join(broadcast(anchors), Seq("a_id"))
      .filter(col("c_id") =!= col("a_id")))
    val perAnchor = anchors.select(col("a_id"))
      .join(exact.join(approx, Seq("a_id", "c_id"))
        .groupBy("a_id").agg(count(lit(1)).as("nc")), Seq("a_id"), "left")
      .select(col("a_id"), coalesce(col("nc"), lit(0L)).as("n_common"))
    val mean = perAnchor.agg(
      round(sum("n_common").cast("double") /
        (count(lit(1)) * lit(5)).cast("double"), 6).as("mean_recall"))
    perAnchor.groupBy("n_common").agg(count(lit(1)).as("n_anchors"))
      .crossJoin(broadcast(mean))
      .orderBy("n_common")
  }

  /** The q215 anchors (`a_id`) with their brute-force top-5 (`exact`,
    * rank 1–5 in `r_ex`) and their IVF top-5 at the production probe
    * point (`approx`, rank in `r_ap`): the ranking pair q255 and q317
    * score. Both rankings use q215's exact BIGINT dot products with
    * (cos desc, id asc) tie order.
    */
  private def rankedTop5(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val gi = gridIvfProd(spark, dir)
    val anchors = gi.assigned.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("a_id"),
        col("qe").as("a_qe"), col("qn").as("a_qn"))
    val cands = gi.assigned.select(col("vec_id").as("c_id"),
      col("list_id").as("c_list"), col("qe").as("c_qe"), col("qn").as("c_qn"))
    val aprobes = gi.probes.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("a_id"), col("list_id").as("c_list"))
    val topk = udaf(new graft.functions.SketchAggregators.TopKAggregator(5))
    def top5Ranked(pairs: DataFrame, rankName: String): DataFrame = pairs
      .withColumn("qdot", expr("dot_l(a_qe, c_qe)"))
      .withColumn("cos", col("qdot").cast("double") /
        (sqrt(col("a_qn").cast("double")) * sqrt(col("c_qn").cast("double"))))
      .groupBy("a_id").agg(topk(col("cos"), col("c_id")).as("top"))
      .select(col("a_id"), posexplode(col("top")))
      .select(col("a_id"), col("col.id").as("c_id"),
        (col("pos") + 1).cast("long").as(rankName))
    val exact = top5Ranked(
      cands.join(broadcast(anchors), col("c_id") =!= col("a_id")), "r_ex")
    val approx = top5Ranked(cands
      .join(broadcast(aprobes), Seq("c_list"))
      .join(broadcast(anchors), Seq("a_id"))
      .filter(col("c_id") =!= col("a_id")), "r_ap")
    (anchors, exact, approx)
  }

  /** q255: RETRIEVAL nDCG@5 — the rank-aware retrieval metric that
    * completes the eval family (q215 recall@5 counts overlap, q229
    * sweeps it over nprobe; nDCG grades WHERE the hits land, Järvelin &
    * Kekäläinen '02): per q215 anchor, the IVF ranking at the
    * production probe point (`adaptiveNProbe` lists; 1 on the oracle
    * corpus) is scored against the brute-force ground truth with graded relevance
    * rel = 6 − true_rank (0 if outside the true top-5), DCG summed with
    * the standard 1/log₂(i+1) discount.
    *
    * Determinism: both rankings use q215's exact BIGINT dot products
    * with (cos desc, id asc) tie order; the DCG/IDCG sums are FIXED
    * 5-term association chains over per-rank integer grades pivoted
    * into columns (never an unordered float aggregate), with the log₂
    * constants embedded as identical literals in both engines; the
    * corpus mean rides the ⌊ndcg·10⁶+0.5⌋ integer grid so it is
    * order-invariant. Scale: q215's — anchors broadcast (37× reduction),
    * candidate scan + bounded heaps, per-anchor census thereafter.
    */
  def q255RetrievalNdcg(spark: SparkSession, dir: String): DataFrame = {
    val (anchors, exact, approx) = rankedTop5(spark, dir)
    val graded = approx.join(exact, Seq("a_id", "c_id"), "left")
      .withColumn("rel", coalesce(lit(6L) - col("r_ex"), lit(0L)))
    val gAgg = graded.groupBy("a_id").agg(
      max(when(col("r_ap") === 1, col("rel"))).as("g1"),
      max(when(col("r_ap") === 2, col("rel"))).as("g2"),
      max(when(col("r_ap") === 3, col("rel"))).as("g3"),
      max(when(col("r_ap") === 4, col("rel"))).as("g4"),
      max(when(col("r_ap") === 5, col("rel"))).as("g5"))
    val eAgg = exact.groupBy("a_id").agg(
      max(when(col("r_ex") === 1, 1L)).as("e1"),
      max(when(col("r_ex") === 2, 1L)).as("e2"),
      max(when(col("r_ex") === 3, 1L)).as("e3"),
      max(when(col("r_ex") === 4, 1L)).as("e4"),
      max(when(col("r_ex") === 5, 1L)).as("e5"))
    val l3 = 1.5849625007211562; val l5 = 2.321928094887362
    val l6 = 2.584962500721156
    val per = anchors.select(col("a_id"))
      .join(eAgg, Seq("a_id"), "left").join(gAgg, Seq("a_id"), "left")
      .select(col("a_id"),
        (coalesce(col("g1"), lit(0L)).cast("double") +
          coalesce(col("g2"), lit(0L)).cast("double") / lit(l3) +
          coalesce(col("g3"), lit(0L)).cast("double") / lit(2.0) +
          coalesce(col("g4"), lit(0L)).cast("double") / lit(l5) +
          coalesce(col("g5"), lit(0L)).cast("double") / lit(l6)).as("dcg"),
        ((coalesce(col("e1"), lit(0L)) * 5L).cast("double") +
          (coalesce(col("e2"), lit(0L)) * 4L).cast("double") / lit(l3) +
          (coalesce(col("e3"), lit(0L)) * 3L).cast("double") / lit(2.0) +
          (coalesce(col("e4"), lit(0L)) * 2L).cast("double") / lit(l5) +
          coalesce(col("e5"), lit(0L)).cast("double") / lit(l6)).as("idcg"))
      .withColumn("ndcg", col("dcg") / col("idcg"))
      .withColumn("ndcg_u", floor(col("ndcg") * 1000000.0 + 0.5).cast("long"))
    val mean = per.agg(round(sum("ndcg_u").cast("double") / 1000000.0 /
      count(lit(1)), 6).as("mean_ndcg"))
    per.groupBy(round(col("ndcg"), 6).as("ndcg"))
      .agg(count(lit(1)).as("n_anchors"))
      .crossJoin(broadcast(mean))
      .orderBy("ndcg")
  }

  /** q317: RETRIEVAL MRR + precision@k — the first-hit metric that
    * completes the retrieval-eval family (q215 recall@5 counts overlap,
    * q255 nDCG grades positions; MRR answers "how deep does the user
    * scroll to the first good result?" — the metric QA/search teams
    * actually report): per q215 anchor, the IVF ranking at the
    * production probe point (`adaptiveNProbe` lists; 1 on the oracle
    * corpus) is scored against the brute-force top-5 ground truth; reciprocal rank
    * of the first true hit on the 10⁻⁶ integer grid (1000000 div rank —
    * exact, order-invariant mean), plus precision@1/3/5 as integer hit
    * censuses.
    *
    * Determinism: both rankings reuse q215's exact BIGINT grid dots with
    * (cos desc, id asc) order; every per-anchor statistic is an integer;
    * the corpus MRR is one divide over integer sums. Scale: q215's —
    * anchors broadcast (37× reduction), bounded per-anchor heaps, then
    * census-sized arithmetic only.
    */
  def q317RetrievalMrr(spark: SparkSession, dir: String): DataFrame = {
    val (anchors, exact, approx) = rankedTop5(spark, dir)
    val perA = anchors.select(col("a_id"))
      .join(approx.join(exact, Seq("a_id", "c_id"), "left")
        .groupBy("a_id").agg(
          min(when(col("r_ex").isNotNull, col("r_ap"))).as("first_hit"),
          sum(when(col("r_ex").isNotNull && col("r_ap") <= 1, 1L).otherwise(0L)).as("h1"),
          sum(when(col("r_ex").isNotNull && col("r_ap") <= 3, 1L).otherwise(0L)).as("h3"),
          sum(when(col("r_ex").isNotNull && col("r_ap") <= 5, 1L).otherwise(0L)).as("h5")),
        Seq("a_id"), "left")
      .select(col("a_id"),
        when(col("first_hit").isNotNull, expr("1000000L div first_hit"))
          .otherwise(lit(0L)).as("rr_u"),
        coalesce(col("h1"), lit(0L)).as("h1"),
        coalesce(col("h3"), lit(0L)).as("h3"),
        coalesce(col("h5"), lit(0L)).as("h5"))
    val tot = perA.agg(
      count(lit(1)).as("n_anchors"), sum("rr_u").as("rr_sum"),
      sum("h1").as("t1"), sum("h3").as("t3"), sum("h5").as("t5"))
    tot.select(col("n_anchors"), col("rr_sum"),
        round(col("rr_sum").cast("double") / 1000000.0 /
          col("n_anchors").cast("double"), 6).as("mrr"),
        explode(array(
          struct(lit(1L).as("k"), col("t1").as("hits")),
          struct(lit(3L).as("k"), col("t3").as("hits")),
          struct(lit(5L).as("k"), col("t5").as("hits")))).as("kv"))
      .select(col("kv.k").as("k"), col("n_anchors"), col("kv.hits").as("hits"),
        expr("kv.hits * 1000000L div (n_anchors * kv.k)").as("precision_ppm"),
        col("rr_sum"), col("mrr"))
      .orderBy("k")
  }

  /** q216: EMBEDDING TABLE AUDIT — the data-quality gate an embedding
    * store runs before any index build: per label, vector count,
    * wrong-dimension rows, all-zero vectors (unnormalizable — they
    * poison cosine math), non-finite components, and the norm² profile
    * (min/max/mean on the ⌊x·2²⁰+0.5⌋ integer grid — exact BIGINTs, so
    * min/max are exact and the mean is one divide). One scan, one
    * partial+final hash agg; every check scan-local.
    */
  def q216EmbeddingAudit(spark: SparkSession, dir: String): DataFrame = {
    val grid = "transform(embedding, x -> cast(floor(cast(x as double) * 1048576.0 + 0.5) as bigint))"
    Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"),
        size(col("embedding")).as("dim"),
        expr(s"aggregate($grid, cast(0 as bigint), (s, x) -> s + x * x)").as("qn2"),
        expr("size(filter(embedding, x -> x != cast(0 as float)))").as("n_nonzero"),
        expr("size(filter(embedding, x -> isnan(x)))").as("n_nan_comp"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("dim") =!= 64, 1L).otherwise(0L)).as("n_bad_dim"),
        sum(when(col("n_nonzero") === 0, 1L).otherwise(0L)).as("n_zero_vecs"),
        sum(when(col("n_nan_comp") > 0, 1L).otherwise(0L)).as("n_nonfinite"),
        min("qn2").as("min_qn2"), max("qn2").as("max_qn2"),
        // de-scale off the 2^40 grid (exponent-exact) BEFORE rounding:
        // round(…, 6) at 1e12 magnitude is below the double's ulp and
        // the two engines' rounding implementations diverge there
        round(sum("qn2").cast("double") / count(lit(1)).cast("double")
          / lit(1099511627776.0d), 6).as("mean_sq_norm"))
      .orderBy("label")
  }

  /** q229: ANN RECALL-vs-NPROBE curve — q215's audit swept over
    * nprobe ∈ {1, 2, 4} × `adaptiveNProbe`: the accuracy-vs-cost table
    * that picks the probe count, bracketing the production operating
    * point at every geometry (the q225 idea applied to the IVF index;
    * recall climbs as each anchor searches its top-nprobe nearest
    * lists while cost grows ∝ nprobe/nLists). Same grid-exact scoring
    * and heaps as q215; the anchor→list ranking reuses the
    * assignment's own centroid scores (anchors × nLists centroid
    * rows — bounded).
    */
  def q229IvfNprobeCurve(spark: SparkSession, dir: String): DataFrame = {
    // the sweep brackets the production operating point: {1, 2, 4} ×
    // adaptiveNProbe (= {1, 2, 4} on the oracle corpus, where the
    // factor derives 1)
    val npf = graft.operators.IvfAnn.adaptiveNProbe(spark, dir)
    nprobeCurve(spark, dir, Seq(1, 2, 4).map(_ * npf))
  }

  /** The q229 audit device over an ARBITRARY nprobe grid — run over
    * wide grids on the larger corpora (sf0.1's 32 lists, the sf1 probe's
    * 128), it measures recall AT each adaptive geometry instead of
    * extrapolating it (numbers in BASELINE.md).
    */
  private[graft] def nprobeCurve(spark: SparkSession, dir: String,
      grid: Seq[Int]): DataFrame = {
    val gi = gridIvfProd(spark, dir)
    val assigned = gi.assigned
    val anchors = assigned.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("a_id"), col("qe").as("a_qe"), col("qn").as("a_qn"))
      .localCheckpoint()
    val cents = gi.cents
    // per-anchor ranking of ALL lists by the assignment's own score
    val listRank = anchors.crossJoin(broadcast(cents))
      .withColumn("qdot", expr("dot_l(a_qe, ce)"))
      .withColumn("score",
        col("qdot").cast("double") / sqrt(col("cn").cast("double")))
      .withColumn("lrn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("a_id")
          .orderBy(col("score").desc, col("list_id").asc)))
      .select(col("a_id"), col("list_id"), col("lrn"))
      .localCheckpoint()
    val cands = assigned.select(col("vec_id").as("c_id"),
      col("list_id").as("c_list"), col("qe").as("c_qe"), col("qn").as("c_qn"))
    val topk = udaf(new graft.functions.SketchAggregators.TopKAggregator(5))
    def top5(pairs: DataFrame): DataFrame = pairs
      .withColumn("qdot", expr("dot_l(a_qe, c_qe)"))
      .withColumn("cos", col("qdot").cast("double") /
        (sqrt(col("a_qn").cast("double")) * sqrt(col("c_qn").cast("double"))))
      .groupBy("a_id").agg(topk(col("cos"), col("c_id")).as("top"))
      .select(col("a_id"), explode(col("top")).as("kv"))
      .select(col("a_id"), col("kv.id").as("c_id"))
    val exact = top5(cands.join(broadcast(anchors), col("c_id") =!= col("a_id")))
      .localCheckpoint()
    grid.map { np =>
      val probed = listRank.filter(col("lrn") <= np)
        .select(col("a_id"), col("list_id").as("c_list"))
      val approx = top5(cands
        .join(broadcast(probed), Seq("c_list"))
        .join(broadcast(anchors), Seq("a_id"))
        .filter(col("c_id") =!= col("a_id")))
      val perAnchor = anchors.select(col("a_id"))
        .join(exact.join(approx, Seq("a_id", "c_id"))
          .groupBy("a_id").agg(count(lit(1)).as("nc")), Seq("a_id"), "left")
        .select(coalesce(col("nc"), lit(0L)).as("n_common"))
      perAnchor.agg(
          round(sum("n_common").cast("double") /
            (count(lit(1)) * lit(5)).cast("double"), 6).as("mean_recall"))
        .select(lit(np.toLong).as("nprobe"), col("mean_recall"))
    }.reduce(_ unionByName _).orderBy("nprobe")
  }

  /** q270: ALS matrix-factorization half-step (Zhou '08 / implicit-MF
    * shape) — the collaborative-filtering primitive beside the
    * content-side similarity family: the user × event-type count
    * matrix is factorized at k = 2 with FIXED item factors (one exact
    * ridge solve per user — the distributed step of alternating least
    * squares; a full trainer alternates this very computation), then
    * every user gets factors, a reconstruction SSE, and the corpus
    * RMSE.
    *
    * Determinism: item factors are md5-derived BIGINTs on the 2²⁰
    * grid; the normal equations A = FᵀF + λI and b_u = Fᵀr_u are pure
    * BIGINT sums (order-invariant); the 2×2 closed-form solve
    * (det/x₁/x₂) and predictions are mirrored fixed chains on those
    * exact ints; residuals snap to the 10³ grid so SSE/RMSE are
    * BIGINT sums under one mirrored sqrt (IEEE-exact). Scale: A is a
    * 1-row broadcast (item-count-sized inputs); b_u is one keyed agg
    * over the (user, item) counts; the solve is map-only per user —
    * exactly how ALS distributes at 100 TB (items broadcast, users
    * partitioned).
    */
  def q270AlsHalfStep(spark: SparkSession, dir: String): DataFrame = {
    val LAM = 1099511627776L // λ=1 on the 2^40 factor-squared grid
    def h(src: Column, tag: String): Column =
      pmod(conv(substring(md5(concat(src, lit(tag))), 1, 12), 16, 10)
        .cast("long"), lit(1048576L))
    val ev = Tables.events(spark, dir)
    val items = ev.select("event_type").distinct()
      .withColumn("q1", h(col("event_type"), "|f1"))
      .withColumn("q2", h(col("event_type"), "|f2"))
      .localCheckpoint()
    val a = items.agg(
      (sum(col("q1") * col("q1")) + LAM).as("a11"),
      sum(col("q1") * col("q2")).as("a12"),
      (sum(col("q2") * col("q2")) + LAM).as("a22"))
    val counts = ev.groupBy("user_id", "event_type").agg(count(lit(1)).as("r"))
    val b = counts.join(broadcast(items), "event_type")
      .groupBy("user_id").agg(
        sum(col("r") * col("q1")).as("b1"),
        sum(col("r") * col("q2")).as("b2"))
    val solved = b.crossJoin(broadcast(a))
      .withColumn("det",
        col("a11").cast("double") * col("a22").cast("double") -
          col("a12").cast("double") * col("a12").cast("double"))
      .withColumn("x1",
        (col("a22").cast("double") * col("b1").cast("double") -
          col("a12").cast("double") * col("b2").cast("double")) / col("det"))
      .withColumn("x2",
        (col("a11").cast("double") * col("b2").cast("double") -
          col("a12").cast("double") * col("b1").cast("double")) / col("det"))
      .select("user_id", "x1", "x2")
      .localCheckpoint()
    val cells = solved.crossJoin(broadcast(items))
      .join(counts, Seq("user_id", "event_type"), "left")
      .withColumn("rhat",
        (col("x1") * col("q1").cast("double") +
          col("x2") * col("q2").cast("double")))
      .withColumn("du",
        floor((coalesce(col("r"), lit(0L)).cast("double") - col("rhat"))
          * 1000.0 + 0.5).cast("long"))
    val sse = cells.groupBy("user_id").agg(sum(col("du") * col("du")).as("sseu"),
      count(lit(1)).as("nc"))
    val rmse = sse.agg(sum("sseu").as("st"), sum("nc").as("nt"))
      .select(sqrt(col("st").cast("double") / col("nt").cast("double") / 1000000.0)
        .as("rmse"))
    solved.join(sse, "user_id").crossJoin(broadcast(rmse))
      .select(col("user_id"), col("x1"), col("x2"),
        (col("sseu") / 1000000.0).as("sse"), col("rmse"))
      .orderBy("user_id")
  }

  /** q306: HYBRID RETRIEVAL with reciprocal-rank fusion — the modern
    * RAG retrieval stack in one operator (q82 ranks LEXICALLY by BM25,
    * q44 ranks SEMANTICALLY by cosine; production search runs both and
    * fuses, because each finds what the other misses): top-100 from
    * each ranking (documents and embeddings share the id space),
    * RRF(d) = Σ 1/(60 + rankᵢ(d)) over the rankings that contain d
    * (Cormack & Clarke '09, k = 60), top-15 fused.
    *
    * Determinism: both rankings order by (rounded score desc, id) —
    * grid-stable; ranks are integers; RRF is two exact IEEE divides
    * summed in fixed order, snapped at 10⁻⁸. Scale: each arm is its
    * own audited shape (term-filtered postings / one scan +
    * TakeOrdered); fusion touches only the two top-100 lists — rank
    * windows sit over limit-bounded inputs.
    */
  def q306HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val qterms = Seq("merge", "window", "stream")
    val ws = Tables.documents(spark, dir).filter(col("doc_id") =!= 0)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val d = ws.select(col("doc_id"), size(col("ws")).as("dl"))
    val stats = d.agg(count(lit(1)).cast("double").as("n"),
      sum(col("dl")).cast("double").as("sumdl"))
    val t = ws.select(col("doc_id"), explode(col("ws")).as("term"))
      .filter(col("term").isin(qterms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val f = t.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val lexTop = t.join(broadcast(f), "term")
      .join(d, "doc_id")
      .crossJoin(broadcast(stats))
      .selectExpr("doc_id",
        "ln(1 + (n - df + 0.5D)/(df + 0.5D)) * (tf * 2.2D) / " +
          "(tf + 1.2D * (1.0D - 0.75D + 0.75D * dl / (sumdl / n))) AS s")
      .groupBy("doc_id").agg(round(sum(col("s")), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(100)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id").asc)))
    val vecTop = Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(queryVec(spark, dir)))
      .select(col("vec_id").as("doc_id"),
        round(VectorOps.cosine(col("embedding"), col("qv")), 6).as("cos"))
      .orderBy(col("cos").desc, col("doc_id").asc).limit(100)
      .withColumn("vec_rank",
        row_number().over(Window.orderBy(col("cos").desc, col("doc_id").asc)))
    lexTop.select("doc_id", "lex_rank")
      .join(vecTop.select("doc_id", "vec_rank"), Seq("doc_id"), "full")
      .select(col("doc_id"),
        coalesce(col("lex_rank").cast("long"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank").cast("long"), lit(0L)).as("vec_rank"),
        (floor((coalesce(lit(1.0) / (col("lex_rank") + 60), lit(0.0)) +
          coalesce(lit(1.0) / (col("vec_rank") + 60), lit(0.0))) *
          100000000.0 + 0.5) / 100000000.0).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc).limit(15)
  }

  /** q313: MATRYOSHKA truncation recall — the dimension-axis member of
    * the accuracy-vs-cost curve family (q229 sweeps nprobe, q225 CMS
    * width, q247 histogram bins; MRL-style embeddings are served
    * TRUNCATED, and this measures what each prefix length buys):
    * recall@10 of the top-10 by prefix-cosine (dims 2/4/8) against
    * the full-16-dim ground truth — the table that picks the serving
    * dimension.
    *
    * Determinism: every ranking orders by (rounded cosine desc, id) —
    * grid-stable; recall is an integer overlap over two 10-row lists.
    * Scale: one scan per dim with a TakeOrdered top-10 — at 100 TB
    * the truncated scan reads 2/16ths of the vector bytes, which is
    * the cost axis the curve prices.
    */
  def q313MatryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(queryVec(spark, dir)))
    def top10(dim: Int): DataFrame = base
      .select(col("vec_id"),
        round(VectorOps.cosine(slice(col("embedding"), 1, dim),
          slice(col("qv"), 1, dim)), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(10)
    val truth = top10(16).select(col("vec_id"))
    Seq(2, 4, 8).map { d =>
      top10(d).join(truth, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(d.toLong).as("dim"), col("n_hits"),
          (col("n_hits").cast("double") / 10.0).as("recall_at_10"))
    }.reduce(_ unionByName _).orderBy("dim")
  }

  /** q355: TOP PRINCIPAL COMPONENT of the embedding Gram matrix by
    * UNROLLED POWER ITERATION — the spectral step q88 stops short of:
    * q88 ships the 64×64 Gram off one distributed pass and says "eigen
    * is a driver no-op"; this query actually RUNS the eigen solve, in
    * the plan, and gates its 12-step trajectory bit-exactly. The top
    * component is the workhorse of embedding hygiene (dominant-direction
    * removal, anisotropy/"all-but-the-top" correction, whitening's first
    * axis) and of PCA-before-IVF dimensionality cuts (q142's codebooks).
    *
    * Determinism: the Gram is exact BIGINT sums on the ⌊x·2²⁰+0.5⌋ grid
    * (q88's device), snapped once to a micro-grid G₆; the iterate v₆
    * lives on the 10⁻⁶ integer grid, so every matvec Σ G₆·v₆ is exact
    * BIGINT (order-invariant under any partitioning); the norm is an
    * EXACT wide-integer Σu² (decimal(38,0) here, HUGEINT in the
    * oracle — both correctly-round the same integer to double), and
    * re-normalization ⌊u/‖u‖·10⁶+0.5⌋ is one fixed IEEE chain on
    * identical operands. No float ever meets engine-order summation.
    *
    * Scale: the ONLY data-sized work is q88's one-pass Gram aggregation
    * (17 KB buffer across any shuffle); 12 iterations run on 64-row /
    * 4096-row frames with checkpointed lineage — constant cost whether
    * the corpus is 500 vectors or 100 TB. The Rayleigh-quotient
    * eigenvalue estimate rides out as ‖G·v‖ at unit ‖v‖.
    */
  def q355PrincipalComponent(spark: SparkSession, dir: String): DataFrame = {
    val iters = 12
    val gram = udaf(new graft.functions.SketchAggregators.GramAggregator(64))
    val m = Tables.embeddingsSpread(spark, dir)
      .agg(gram(col("embedding")).as("m"))
    val pairs = "flatten(transform(sequence(0, 63), " +
      "i -> transform(sequence(i, 63), j -> struct(i AS i, j AS j))))"
    val tri = m.select(explode(expr(pairs)).as("p"), col("m"))
      .select(col("p.i").cast("long").as("i"), col("p.j").cast("long").as("j"),
        element_at(col("m"),
          (lit(66) + col("p.i") * (lit(129) - col("p.i")) / 2 +
            col("p.j") - col("p.i")).cast("int")).as("g"))
      .withColumn("g6", floor(col("g") * 1000000.0 + 0.5).cast("long"))
    val full = tri.select("i", "j", "g6")
      .unionAll(tri.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("g6")))
      .localCheckpoint()
    var v = spark.range(64).select(col("id").as("j"), lit(125000L).as("v6"))
    var nrm: DataFrame = null
    // ONE materialization per iteration: u is checkpointed, and both
    // the norm and the renormalized iterate read the checkpoint — the
    // dual reference would otherwise double the recomputed lineage
    // every round (2^12 blowup, the same inlining trap the oracle's
    // MATERIALIZED CTEs avoid).
    for (_ <- 1 to iters) {
      val u = full.join(v, full("j") === v("j")).drop(v("j"))
        .groupBy("i").agg(sum(col("g6") * col("v6")).as("u"))
        .localCheckpoint()
      nrm = u.agg(sqrt(sum(col("u").cast("decimal(20,0)") *
        col("u").cast("decimal(20,0)")).cast("double")).as("nrm"))
      v = u.crossJoin(broadcast(nrm))
        .select(col("i").as("j"),
          floor(col("u").cast("double") / col("nrm") * 1000000.0 + 0.5)
            .cast("long").as("v6"))
    }
    v.crossJoin(broadcast(nrm))
      .select(col("j").as("dim"),
        (col("v6").cast("double") / 1000000.0).as("loading"),
        round(col("nrm") / 1.0e12, 6).as("eigenvalue"))
      .orderBy("dim")
  }

  /** q356: LATE-INTERACTION retrieval (the ColBERT MaxSim operator) —
    * the third retrieval scorer beside the single-vector cosine family
    * (q44/q61) and lexical BM25 (q82): score(q, d) = Σ_{query tokens}
    * max_{doc tokens} ⟨e_q, e_t⟩. Token-level interaction catches
    * partial matches a pooled document vector averages away, which is
    * why max-sim is the standard quality/cost midpoint between
    * bi-encoders and cross-encoders in retrieval curricula.
    *
    * Token embeddings are the md5-byte grid (8 signed bytes per token —
    * the q270 device: deterministic, oracle-replicable in any engine,
    * and the Spark-side plumbing is exactly what a real learned token
    * table would ride); dots are exact BIGINT folds, so max and sum
    * never see a float. Scale: tokenization is scan-local; the 4-token
    * query is a broadcast literal; per-(doc, query-token) max and the
    * per-doc sum are one partial+final agg chain (map-side combine on
    * both levels); top-10 is a TakeOrderedAndProject heap — the whole
    * plan is scan → two local aggs → bounded take, no data-sized join
    * or shuffle beyond the doc-keyed combine.
    */
  def q356MaxsimRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val qTokens = Seq("join", "hash", "vector", "window")
    def byteEmb(wc: Column): Column = array((0 until 8).map(k =>
      conv(substring(md5(wc), 2 * k + 1, 2), 16, 10).cast("long") - 128L): _*)
    val docToks = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), explode(slice(split(col("text"), " "), 1, 16)).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"), col("w")).distinct()
      .withColumn("te", byteEmb(col("w")))
    val q = spark.range(1)
      .select(explode(array(qTokens.map(lit): _*)).as("qw"))
      .withColumn("qv", byteEmb(col("qw")))
    val dots = docToks.crossJoin(broadcast(q))
      .withColumn("dot", aggregate(
        zip_with(col("te"), col("qv"), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x))
      .groupBy("doc_id", "qw").agg(max("dot").as("m"))
    val scored = dots.groupBy("doc_id").agg(sum("m").as("score_u"))
    val ntok = docToks.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    scored.join(ntok, Seq("doc_id"))
      .orderBy(col("score_u").desc, col("doc_id").asc)
      .limit(10)
      .select(col("doc_id"), col("score_u"), col("n_tok"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q355_principal_component" -> (q355PrincipalComponent _),
    "q356_maxsim_retrieval" -> (q356MaxsimRetrieval _),
    "q313_matryoshka_recall" -> (q313MatryoshkaRecall _),
    "q306_hybrid_rrf" -> (q306HybridRrf _),
    "q270_als_half_step" -> (q270AlsHalfStep _),
    "q229_ivf_nprobe_curve" -> (q229IvfNprobeCurve _),
    "q215_ivf_recall" -> (q215IvfRecall _),
    "q255_retrieval_ndcg" -> (q255RetrievalNdcg _),
    "q317_retrieval_mrr" -> (q317RetrievalMrr _),
    "q216_embedding_audit" -> (q216EmbeddingAudit _),
    "q211_hard_negatives" -> (q211HardNegatives _),
    "q210_mmr_rerank" -> (q210MmrRerank _),
    "q105_knn_label" -> (q105KnnLabel _),
    "q235_ivf_maintenance" -> (q235IvfMaintenance _),
    "q68_quantized_cosine" -> (q68QuantizedCosine _),
    "q84_srp_lsh" -> (q84SrpLsh _),
    "q114_random_projection" -> (q114RandomProjection _),
    "q88_gram_covariance" -> (q88GramCovariance _),
    "q44_cosine_topk" -> (q44CosineTopk _),
    "q61_cosine_expr_topk" -> (q61CosineExprTopk _),
    "q158_mips_topk" -> (q158MipsTopk _),
    "q45_ann_grouped" -> (q45AnnGrouped _),
    "q46_nn_pairs" -> (q46NnPairs _),
    "q46b_nn_pairs_bucketed" -> (q46bNnPairsBucketed _),
    "q47_centroid" -> (q47Centroid _),
    "q63_ivf_full_probe" -> (q63IvfFullProbe _),
    "q77_kmeans" -> (q77Kmeans _),
    "q79_cluster_sample" -> (q79ClusterSample _),
    "q142_pq_codes" -> (q142PqCodes _),
    "q143_pq_adc_search" -> (q143PqAdcSearch _),
    "q147_ivf_pq_search" -> (q147IvfPqSearch _),
    "q156_cluster_topics" -> (q156ClusterTopics _),
    "q397_silhouette" -> (q397Silhouette _)
  )

  /** Shared DuckDB CTE chain: the q77/q79 k-means trajectory unrolled —
    * seeds = 8 smallest ids; assignment = row_number argmin on
    * (distance, cid); update = per-dim avg via ZIPPED unnest, ROUNDED
    * to 6 (the same snapping the engine applies, which is what makes
    * the second iteration's distances bit-identical across engines).
    * Ends at `a2` (vec_id, cid) = the final assignment.
    */
  private val oracleKmeansA2: String =
    """e AS (SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
      |seeds AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, v
      |  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
      |d1 AS (
      |  SELECT e.vec_id, s.cid,
      |         row_number() OVER (PARTITION BY e.vec_id
      |                            ORDER BY list_distance(e.v, s.v), s.cid) AS rn
      |  FROM e CROSS JOIN seeds s),
      |a1 AS (SELECT vec_id, cid FROM d1 WHERE rn = 1),
      |u1 AS (
      |  SELECT cid, i, round(avg(x), 6) AS m
      |  FROM (SELECT a1.cid, unnest(e.v) AS x, unnest(range(1, 65)) AS i
      |        FROM a1 JOIN e USING (vec_id))
      |  GROUP BY cid, i),
      |c1 AS (SELECT cid, list(m ORDER BY i) AS v FROM u1 GROUP BY cid),
      |d2 AS (
      |  SELECT e.vec_id, c.cid,
      |         row_number() OVER (PARTITION BY e.vec_id
      |                            ORDER BY list_distance(e.v, c.v), c.cid) AS rn
      |  FROM e CROSS JOIN c1 c),
      |a2 AS (SELECT vec_id, cid FROM d2 WHERE rn = 1)""".stripMargin

  private val oracleCos =
    "list_cosine_similarity(a.embedding::DOUBLE[], q.qv::DOUBLE[])"

  /** The integer-grid IVF coarse index replayed in DuckDB (shared by
    * q105/q147 and the q215/q229/q255/q317 audits): ⌊x·2²⁰+0.5⌋ grid,
    * exact BIGINT dots, nearest-list argmax by (score DESC, list_id
    * ASC). The GEOMETRY is derived, not hardcoded: `nlv` replays
    * `IvfAnn.adaptiveNLists` (largest power of two p with p² ≤ N,
    * floored at 16 — integer comparisons, so the two derivations agree
    * exactly at any corpus size) and `npv` replays
    * `IvfAnn.adaptiveNProbe` (nl/16, floored at 1) — a literal 16/1
    * here would silently diverge from the Spark entries on any corpus
    * ≥ 1024 vectors. Seeds are the first nl vectors in md5(vec_id)
    * order (`IvfAnn.build`'s hash-stratified sampling). Ends at `asg`
    * (vec_id, label, qe, qn, list_id — the nearest list) and `prb`
    * (vec_id, list_id — each vector's np probed lists).
    */
  private val oracleGridAsg: String =
    """nlv AS (
      |  SELECT coalesce((SELECT max(power(2, g.g)::BIGINT) FROM range(4, 21) g(g)
      |                   WHERE power(2, g.g)::BIGINT * power(2, g.g)::BIGINT
      |                         <= (SELECT count(*) FROM embeddings)), 16) AS nl),
      |npv AS (SELECT greatest(1, nl // 16)::BIGINT AS np FROM nlv),
      |en AS (
      |  SELECT vec_id, label,
      |         [floor(x::DOUBLE * 1048576 + 0.5)::BIGINT FOR x IN embedding] AS qe
      |  FROM embeddings),
      |en2 AS (SELECT vec_id, label, qe,
      |               list_sum([x * x FOR x IN qe])::BIGINT AS qn FROM en),
      |c AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)::INT
      |               AS list_id,
      |             qe AS ce, qn AS cn
      |      FROM en2 QUALIFY list_id <= (SELECT nl FROM nlv)),
      |a AS (
      |  SELECT e.vec_id, e.label, e.qe, e.qn, c.list_id,
      |         list_sum([e.qe[i] * c.ce[i] FOR i IN range(1, 65)])::BIGINT AS qdot, c.cn
      |  FROM en2 e CROSS JOIN c),
      |rnka AS (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id
      |          ORDER BY qdot::DOUBLE / sqrt(cn::DOUBLE) DESC, list_id ASC) AS lrn
      |  FROM a),
      |asg AS (
      |  SELECT vec_id, label, qe, qn, list_id FROM rnka WHERE lrn = 1),
      |prb AS (
      |  SELECT vec_id, list_id FROM rnka WHERE lrn <= (SELECT np FROM npv))""".stripMargin

  /** The per-subspace DuckDB CTE chain shared by q142/q143: subspace s's
    * 16-dim slice through the q77 trajectory (seeds → a1 → snapped c1 →
    * a2 → snapped c2) plus the reconstruction error vs c2. q143's ADC
    * replay extends it with an 8-row distance table per subspace.
    */
  private def pqOracleSub(s: Int): String = {
    val lo = s * 16 + 1; val hi = s * 16 + 16
    s"""e_$s AS (SELECT vec_id, [x::DOUBLE FOR x IN embedding[$lo:$hi]] AS v FROM embeddings),
       |seeds_$s AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, v
       |  FROM (SELECT * FROM e_$s ORDER BY vec_id LIMIT 8)),
       |d1_$s AS (
       |  SELECT e.vec_id, s.cid,
       |         row_number() OVER (PARTITION BY e.vec_id
       |                            ORDER BY list_distance(e.v, s.v), s.cid) AS rn
       |  FROM e_$s e CROSS JOIN seeds_$s s),
       |a1_$s AS (SELECT vec_id, cid FROM d1_$s WHERE rn = 1),
       |u1_$s AS (
       |  SELECT cid, i, round(avg(x), 6) AS m
       |  FROM (SELECT a.cid, unnest(e.v) AS x, unnest(range(1, 17)) AS i
       |        FROM a1_$s a JOIN e_$s e USING (vec_id))
       |  GROUP BY cid, i),
       |c1_$s AS (SELECT cid, list(m ORDER BY i) AS v FROM u1_$s GROUP BY cid),
       |d2_$s AS (
       |  SELECT e.vec_id, c.cid,
       |         row_number() OVER (PARTITION BY e.vec_id
       |                            ORDER BY list_distance(e.v, c.v), c.cid) AS rn
       |  FROM e_$s e CROSS JOIN c1_$s c),
       |a2_$s AS (SELECT vec_id, cid FROM d2_$s WHERE rn = 1),
       |u2_$s AS (
       |  SELECT cid, i, round(avg(x), 6) AS m
       |  FROM (SELECT a.cid, unnest(e.v) AS x, unnest(range(1, 17)) AS i
       |        FROM a2_$s a JOIN e_$s e USING (vec_id))
       |  GROUP BY cid, i),
       |c2_$s AS (SELECT cid, list(m ORDER BY i) AS v FROM u2_$s GROUP BY cid),
       |err_$s AS (
       |  SELECT a.vec_id, a.cid,
       |         list_sum([(e.v[i] - c.v[i]) * (e.v[i] - c.v[i]) FOR i IN range(1, 17)]) AS e
       |  FROM a2_$s a JOIN e_$s e USING (vec_id) JOIN c2_$s c USING (cid))""".stripMargin
  }

  override val oracles: Map[String, String] = Map(
    // the engine's ⌊x·2²⁰+0.5⌋ Gram grid mirrored exactly (q88's
    // oracle), snapped to G₆ once; each unrolled iteration is an exact
    // BIGINT matvec, an exact HUGEINT Σu² (decimal(38,0) engine-side —
    // both correctly-round the same integer to double), and the same
    // fixed ⌊u/‖u‖·10⁶+0.5⌋ renormalization chain
    "q355_principal_component" -> {
      val base =
        """WITH q AS (
          |  SELECT e.vec_id, r.i AS d,
          |         floor(e.embedding[(r.i + 1)::INT]::DOUBLE * 1048576 + 0.5)::BIGINT AS qx
          |  FROM embeddings e, range(0, 64) r(i)),
          |gi AS MATERIALIZED (
          |  SELECT a.d AS i, b.d AS j, sum(a.qx * b.qx)::BIGINT AS gint
          |  FROM q a JOIN q b ON a.vec_id = b.vec_id
          |  GROUP BY 1, 2),
          |g AS MATERIALIZED (
          |  SELECT i, j,
          |         CAST(floor(gint::DOUBLE / 1099511627776.0 * 1000000.0 + 0.5)
          |              AS BIGINT) AS g6
          |  FROM gi),
          |v0 AS (SELECT r.i AS j, 125000::BIGINT AS v6 FROM range(0, 64) r(i))""".stripMargin
      val iters = (1 to 12).map { k =>
        s""",
           |u$k AS MATERIALIZED (
           |  SELECT g.i, sum(g.g6 * v.v6)::BIGINT AS u
           |  FROM g JOIN v${k - 1} v ON v.j = g.j GROUP BY 1),
           |n$k AS MATERIALIZED (SELECT sqrt(sum(u::HUGEINT * u::HUGEINT)::DOUBLE) AS nrm FROM u$k),
           |v$k AS MATERIALIZED (
           |  SELECT u$k.i AS j,
           |         CAST(floor(u::DOUBLE / nrm * 1000000.0 + 0.5) AS BIGINT) AS v6
           |  FROM u$k, n$k)""".stripMargin
      }.mkString
      val tail =
        """
          |SELECT v12.j AS dim, v12.v6::DOUBLE / 1000000.0 AS loading,
          |       round(n12.nrm / 1000000000000.0, 6) + 0.0 AS eigenvalue
          |FROM v12, n12 ORDER BY dim""".stripMargin
      base + iters + tail
    },
    // same first-16 distinct tokens, same md5-byte grid, same exact
    // BIGINT dot/max/sum chain, same (score desc, doc_id) top-10 cut
    "q356_maxsim_retrieval" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')[1:16]) AS w
        |    FROM documents)
        |  WHERE len(w) > 0),
        |de AS (
        |  SELECT doc_id, w,
        |         [('0x' || substr(md5(w), 2 * k + 1, 2))::BIGINT - 128
        |          FOR k IN range(0, 8)] AS te
        |  FROM dt),
        |qe AS (
        |  SELECT qw,
        |         [('0x' || substr(md5(qw), 2 * k + 1, 2))::BIGINT - 128
        |          FOR k IN range(0, 8)] AS qv
        |  FROM (SELECT unnest(['join', 'hash', 'vector', 'window']) AS qw)),
        |dots AS (
        |  SELECT doc_id, qw,
        |         max(list_sum([te[i + 1] * qv[i + 1] FOR i IN range(0, 8)]))::BIGINT AS m
        |  FROM de CROSS JOIN qe GROUP BY 1, 2),
        |sc AS (SELECT doc_id, sum(m)::BIGINT AS score_u FROM dots GROUP BY 1),
        |nt AS (SELECT doc_id, count(*)::BIGINT AS n_tok FROM dt GROUP BY 1)
        |SELECT sc.doc_id, score_u, n_tok
        |FROM sc JOIN nt USING (doc_id)
        |ORDER BY score_u DESC, sc.doc_id ASC LIMIT 10""".stripMargin,
    // same prefix slices, same rounded-cosine rankings, same integer
    // overlap against the full-dim truth
    "q313_matryoshka_recall" -> {
      def top(dim: Int, name: String) =
        s"""$name AS (
           |  SELECT a.vec_id,
           |         round(list_cosine_similarity(a.embedding[1:$dim]::DOUBLE[],
           |                                      q.qv[1:$dim]::DOUBLE[]), 6) + 0.0 AS cos
           |  FROM embeddings a CROSS JOIN q WHERE a.vec_id <> 0
           |  ORDER BY cos DESC, a.vec_id ASC LIMIT 10)""".stripMargin
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |${top(16, "truth")},
         |${top(2, "t2")},
         |${top(4, "t4")},
         |${top(8, "t8")}
         |SELECT 2::BIGINT AS dim, count(*)::BIGINT AS n_hits,
         |       count(*)::DOUBLE / 10.0 AS recall_at_10
         |FROM t2 WHERE vec_id IN (SELECT vec_id FROM truth)
         |UNION ALL
         |SELECT 4::BIGINT, count(*)::BIGINT, count(*)::DOUBLE / 10.0
         |FROM t4 WHERE vec_id IN (SELECT vec_id FROM truth)
         |UNION ALL
         |SELECT 8::BIGINT, count(*)::BIGINT, count(*)::DOUBLE / 10.0
         |FROM t8 WHERE vec_id IN (SELECT vec_id FROM truth)
         |ORDER BY dim""".stripMargin
    },
    // both arms replayed (the q82 BM25 chain token-for-token, the q44
    // cosine), same grid-stable rank orders, same k=60 fusion snap
    "q306_hybrid_rrf" ->
      """WITH ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE doc_id <> 0),
        |d AS (SELECT doc_id, len(ws)::BIGINT AS dl FROM ws),
        |stats AS (SELECT count(*)::DOUBLE AS n, sum(dl)::DOUBLE AS sumdl FROM d),
        |t AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(ws) AS term FROM ws)
        |  WHERE term IN ('merge', 'window', 'stream')
        |  GROUP BY doc_id, term),
        |f AS (SELECT term, count(*)::DOUBLE AS df FROM t GROUP BY term),
        |lex AS (
        |  SELECT doc_id,
        |         round(sum(ln(1 + (n - df + 0.5)/(df + 0.5)) * (tf * 2.2) /
        |               (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))), 6) AS bm25
        |  FROM t JOIN f USING (term) JOIN d USING (doc_id) CROSS JOIN stats
        |  GROUP BY doc_id),
        |lexr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
        |  FROM lex QUALIFY lex_rank <= 100),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |vec AS (
        |  SELECT a.vec_id AS doc_id,
        |         round(list_cosine_similarity(a.embedding::DOUBLE[], q.qv::DOUBLE[]), 6)
        |           + 0.0 AS cos
        |  FROM embeddings a CROSS JOIN q WHERE a.vec_id <> 0),
        |vecr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS vec_rank
        |  FROM vec QUALIFY vec_rank <= 100)
        |SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
        |       coalesce(lex_rank, 0)::BIGINT AS lex_rank,
        |       coalesce(vec_rank, 0)::BIGINT AS vec_rank,
        |       floor((coalesce(1.0 / (lex_rank + 60), 0.0) +
        |              coalesce(1.0 / (vec_rank + 60), 0.0)) * 100000000.0 + 0.5)
        |         / 100000000.0 AS rrf
        |FROM lexr l FULL JOIN vecr v ON l.doc_id = v.doc_id
        |ORDER BY rrf DESC, doc_id ASC
        |LIMIT 15""".stripMargin,
    // same md5 factor grid, same BIGINT normal equations, same 2×2
    // closed-form chains, same 10³ residual grid and IEEE sqrt
    "q270_als_half_step" ->
      """WITH items AS (
        |  SELECT event_type,
        |         (('0x' || substr(md5(event_type || '|f1'), 1, 12))::BIGINT)
        |           % 1048576 AS q1,
        |         (('0x' || substr(md5(event_type || '|f2'), 1, 12))::BIGINT)
        |           % 1048576 AS q2
        |  FROM (SELECT DISTINCT event_type FROM events)),
        |a AS (
        |  SELECT (sum(q1 * q1) + 1099511627776)::BIGINT AS a11,
        |         sum(q1 * q2)::BIGINT AS a12,
        |         (sum(q2 * q2) + 1099511627776)::BIGINT AS a22
        |  FROM items),
        |counts AS (
        |  SELECT user_id, event_type, count(*)::BIGINT AS r
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT user_id, sum(r * q1)::BIGINT AS b1, sum(r * q2)::BIGINT AS b2
        |  FROM counts JOIN items USING (event_type) GROUP BY user_id),
        |solved AS (
        |  SELECT user_id,
        |         (a22::DOUBLE * b1::DOUBLE - a12::DOUBLE * b2::DOUBLE) /
        |           (a11::DOUBLE * a22::DOUBLE - a12::DOUBLE * a12::DOUBLE) AS x1,
        |         (a11::DOUBLE * b2::DOUBLE - a12::DOUBLE * b1::DOUBLE) /
        |           (a11::DOUBLE * a22::DOUBLE - a12::DOUBLE * a12::DOUBLE) AS x2
        |  FROM b CROSS JOIN a),
        |cells AS (
        |  SELECT s.user_id,
        |         CAST(floor((coalesce(c.r, 0)::DOUBLE -
        |           (s.x1 * i.q1::DOUBLE + s.x2 * i.q2::DOUBLE)) * 1000.0 + 0.5)
        |           AS BIGINT) AS du
        |  FROM solved s CROSS JOIN items i
        |  LEFT JOIN counts c ON c.user_id = s.user_id
        |                    AND c.event_type = i.event_type),
        |sse AS (
        |  SELECT user_id, sum(du * du)::BIGINT AS sseu, count(*)::BIGINT AS nc
        |  FROM cells GROUP BY user_id),
        |rmse AS (
        |  SELECT sqrt(sum(sseu)::DOUBLE / sum(nc)::DOUBLE / 1000000.0) AS rmse
        |  FROM sse)
        |SELECT s.user_id, x1, x2, sseu / 1000000.0 AS sse, rmse
        |FROM solved s JOIN sse USING (user_id) CROSS JOIN rmse
        |ORDER BY s.user_id""".stripMargin,
    // q215's replay swept over nprobe via the assignment CTE's own
    // per-(vec, list) scores — bit-identical
    "q229_ivf_nprobe_curve" ->
      s"""WITH $oracleGridAsg,
        |an AS (
        |  SELECT vec_id AS a_id, qe AS a_qe, qn AS a_qn
        |  FROM asg WHERE vec_id % 37 = 0),
        |lrk AS (
        |  SELECT a.vec_id AS a_id, a.list_id,
        |         row_number() OVER (PARTITION BY a.vec_id
        |           ORDER BY a.qdot::DOUBLE / sqrt(a.cn::DOUBLE) DESC,
        |                    a.list_id ASC) AS lrn
        |  FROM a WHERE a.vec_id % 37 = 0),
        |sc AS (
        |  SELECT an.a_id, c.vec_id AS c_id, c.list_id AS c_list,
        |         (list_sum([an.a_qe[i] * c.qe[i] FOR i IN range(1, 65)])::BIGINT)::DOUBLE
        |           / (sqrt(an.a_qn::DOUBLE) * sqrt(c.qn::DOUBLE)) AS cos
        |  FROM an JOIN asg c ON c.vec_id <> an.a_id),
        |ex AS (
        |  SELECT a_id, c_id FROM (
        |    SELECT a_id, c_id, row_number() OVER (PARTITION BY a_id
        |             ORDER BY cos DESC, c_id ASC) AS rn FROM sc)
        |  WHERE rn <= 5),
        |nps AS (SELECT unnest([1, 2, 4]) * (SELECT np FROM npv) AS np),
        |ap AS (
        |  SELECT nps.np, s.a_id, s.c_id
        |  FROM nps, (SELECT sc.a_id, sc.c_id, sc.cos, l.lrn
        |             FROM sc JOIN lrk l
        |               ON l.a_id = sc.a_id AND l.list_id = sc.c_list) s
        |  WHERE s.lrn <= nps.np
        |  QUALIFY row_number() OVER (PARTITION BY nps.np, s.a_id
        |            ORDER BY s.cos DESC, s.c_id ASC) <= 5),
        |ov AS (
        |  SELECT nps.np, an.a_id, coalesce(o.cnt, 0)::BIGINT AS n_common
        |  FROM nps CROSS JOIN an
        |  LEFT JOIN (SELECT ap.np, e.a_id, count(*)::BIGINT AS cnt
        |             FROM ex e JOIN ap ON ap.a_id = e.a_id AND ap.c_id = e.c_id
        |             GROUP BY ap.np, e.a_id) o
        |    ON o.np = nps.np AND o.a_id = an.a_id)
        |SELECT np::BIGINT AS nprobe,
        |       round(sum(n_common)::DOUBLE / (count(*) * 5)::DOUBLE, 6) + 0.0
        |         AS mean_recall
        |FROM ov GROUP BY np ORDER BY nprobe""".stripMargin,
    // same grid norms (exact BIGINT min/max), same scan-local checks
    "q216_embedding_audit" ->
      """WITH e AS (
        |  SELECT label::BIGINT AS label, len(embedding)::BIGINT AS dim,
        |         list_sum([x * x FOR x IN
        |           [floor(y::DOUBLE * 1048576.0 + 0.5)::BIGINT FOR y IN embedding]])::BIGINT
        |           AS qn2,
        |         len(list_filter(embedding, x -> x <> 0::FLOAT))::BIGINT AS n_nonzero,
        |         len(list_filter(embedding, x -> isnan(x)))::BIGINT AS n_nan_comp
        |  FROM embeddings)
        |SELECT label, count(*)::BIGINT AS n_vecs,
        |       sum(CASE WHEN dim <> 64 THEN 1 ELSE 0 END)::BIGINT AS n_bad_dim,
        |       sum(CASE WHEN n_nonzero = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero_vecs,
        |       sum(CASE WHEN n_nan_comp > 0 THEN 1 ELSE 0 END)::BIGINT AS n_nonfinite,
        |       min(qn2)::BIGINT AS min_qn2, max(qn2)::BIGINT AS max_qn2,
        |       round(sum(qn2)::DOUBLE / count(*)::DOUBLE / 1099511627776.0, 6)
        |         + 0.0 AS mean_sq_norm
        |FROM e GROUP BY label ORDER BY label""".stripMargin,
    // both rankings replayed on the grid (assignment + single-chain
    // scores), same tie order, same overlap census — bit-identical
    // q215's ranked lists + pivoted integer grades; DCG/IDCG as fixed
    // 5-term chains with identical log2 literals; integer-grid mean
    "q255_retrieval_ndcg" ->
      s"""WITH $oracleGridAsg,
        |an AS (
        |  SELECT vec_id AS a_id, list_id AS a_list, qe AS a_qe, qn AS a_qn
        |  FROM asg WHERE vec_id % 37 = 0),
        |sc AS (
        |  SELECT an.a_id, an.a_list, c.vec_id AS c_id, c.list_id AS c_list,
        |         (list_sum([an.a_qe[i] * c.qe[i] FOR i IN range(1, 65)])::BIGINT)::DOUBLE
        |           / (sqrt(an.a_qn::DOUBLE) * sqrt(c.qn::DOUBLE)) AS cos
        |  FROM an JOIN asg c ON c.vec_id <> an.a_id),
        |ex AS (
        |  SELECT a_id, c_id, rn AS r_ex FROM (
        |    SELECT a_id, c_id, row_number() OVER (PARTITION BY a_id
        |             ORDER BY cos DESC, c_id ASC) AS rn FROM sc)
        |  WHERE rn <= 5),
        |ap AS (
        |  SELECT a_id, c_id, rn AS r_ap FROM (
        |    SELECT a_id, c_id, row_number() OVER (PARTITION BY a_id
        |             ORDER BY cos DESC, c_id ASC) AS rn
        |    FROM sc JOIN prb ON prb.vec_id = sc.a_id AND prb.list_id = sc.c_list)
        |  WHERE rn <= 5),
        |g AS (
        |  SELECT ap.a_id, ap.r_ap, coalesce(6 - ex.r_ex, 0)::BIGINT AS rel
        |  FROM ap LEFT JOIN ex USING (a_id, c_id)),
        |ga AS (
        |  SELECT a_id,
        |         max(CASE WHEN r_ap = 1 THEN rel END) AS g1,
        |         max(CASE WHEN r_ap = 2 THEN rel END) AS g2,
        |         max(CASE WHEN r_ap = 3 THEN rel END) AS g3,
        |         max(CASE WHEN r_ap = 4 THEN rel END) AS g4,
        |         max(CASE WHEN r_ap = 5 THEN rel END) AS g5
        |  FROM g GROUP BY a_id),
        |ea AS (
        |  SELECT a_id,
        |         max(CASE WHEN r_ex = 1 THEN 1 END)::BIGINT AS e1,
        |         max(CASE WHEN r_ex = 2 THEN 1 END)::BIGINT AS e2,
        |         max(CASE WHEN r_ex = 3 THEN 1 END)::BIGINT AS e3,
        |         max(CASE WHEN r_ex = 4 THEN 1 END)::BIGINT AS e4,
        |         max(CASE WHEN r_ex = 5 THEN 1 END)::BIGINT AS e5
        |  FROM ex GROUP BY a_id),
        |pa AS (
        |  SELECT an.a_id,
        |         (coalesce(g1, 0)::DOUBLE +
        |          coalesce(g2, 0)::DOUBLE / 1.5849625007211562 +
        |          coalesce(g3, 0)::DOUBLE / 2.0 +
        |          coalesce(g4, 0)::DOUBLE / 2.321928094887362 +
        |          coalesce(g5, 0)::DOUBLE / 2.584962500721156) AS dcg,
        |         ((coalesce(e1, 0) * 5)::DOUBLE +
        |          (coalesce(e2, 0) * 4)::DOUBLE / 1.5849625007211562 +
        |          (coalesce(e3, 0) * 3)::DOUBLE / 2.0 +
        |          (coalesce(e4, 0) * 2)::DOUBLE / 2.321928094887362 +
        |          coalesce(e5, 0)::DOUBLE / 2.584962500721156) AS idcg
        |  FROM an LEFT JOIN ea ON ea.a_id = an.a_id
        |          LEFT JOIN ga ON ga.a_id = an.a_id),
        |pn AS (
        |  SELECT a_id, dcg / idcg AS ndcg,
        |         CAST(floor(dcg / idcg * 1000000.0 + 0.5) AS BIGINT) AS ndcg_u
        |  FROM pa),
        |m AS (
        |  SELECT round(sum(ndcg_u)::DOUBLE / 1000000.0 / count(*), 6) + 0.0
        |           AS mean_ndcg
        |  FROM pn)
        |SELECT round(ndcg, 6) + 0.0 AS ndcg, count(*)::BIGINT AS n_anchors,
        |       m.mean_ndcg
        |FROM pn CROSS JOIN m
        |GROUP BY 1, m.mean_ndcg ORDER BY 1""".stripMargin,
    // q215's chain verbatim through ex/ap, then the first-hit rank and
    // hit censuses on the same 10^-6 integer grids
    "q317_retrieval_mrr" ->
      s"""WITH $oracleGridAsg,
        |an AS (
        |  SELECT vec_id AS a_id, list_id AS a_list, qe AS a_qe, qn AS a_qn
        |  FROM asg WHERE vec_id % 37 = 0),
        |sc AS (
        |  SELECT an.a_id, an.a_list, c.vec_id AS c_id, c.list_id AS c_list,
        |         (list_sum([an.a_qe[i] * c.qe[i] FOR i IN range(1, 65)])::BIGINT)::DOUBLE
        |           / (sqrt(an.a_qn::DOUBLE) * sqrt(c.qn::DOUBLE)) AS cos
        |  FROM an JOIN asg c ON c.vec_id <> an.a_id),
        |ex AS (
        |  SELECT a_id, c_id FROM (
        |    SELECT a_id, c_id, row_number() OVER (PARTITION BY a_id
        |             ORDER BY cos DESC, c_id ASC) AS rn FROM sc)
        |  WHERE rn <= 5),
        |ap AS (
        |  SELECT a_id, c_id, rn AS r_ap FROM (
        |    SELECT a_id, c_id, row_number() OVER (PARTITION BY a_id
        |             ORDER BY cos DESC, c_id ASC) AS rn
        |    FROM sc JOIN prb ON prb.vec_id = sc.a_id AND prb.list_id = sc.c_list)
        |  WHERE rn <= 5),
        |pa AS (
        |  SELECT an.a_id,
        |         coalesce(g.rr_u, 0)::BIGINT AS rr_u,
        |         coalesce(g.h1, 0)::BIGINT AS h1,
        |         coalesce(g.h3, 0)::BIGINT AS h3,
        |         coalesce(g.h5, 0)::BIGINT AS h5
        |  FROM an LEFT JOIN (
        |    SELECT ap.a_id,
        |           coalesce(1000000 // min(CASE WHEN e.c_id IS NOT NULL
        |                                        THEN ap.r_ap END), 0) AS rr_u,
        |           sum(CASE WHEN e.c_id IS NOT NULL AND ap.r_ap <= 1 THEN 1 ELSE 0 END) AS h1,
        |           sum(CASE WHEN e.c_id IS NOT NULL AND ap.r_ap <= 3 THEN 1 ELSE 0 END) AS h3,
        |           sum(CASE WHEN e.c_id IS NOT NULL AND ap.r_ap <= 5 THEN 1 ELSE 0 END) AS h5
        |    FROM ap LEFT JOIN ex e ON e.a_id = ap.a_id AND e.c_id = ap.c_id
        |    GROUP BY ap.a_id) g ON g.a_id = an.a_id),
        |tot AS (
        |  SELECT count(*)::BIGINT AS n_anchors, sum(rr_u)::BIGINT AS rr_sum,
        |         sum(h1)::BIGINT AS t1, sum(h3)::BIGINT AS t3, sum(h5)::BIGINT AS t5
        |  FROM pa)
        |SELECT k, n_anchors, hits, hits * 1000000 // (n_anchors * k) AS precision_ppm,
        |       rr_sum, round(rr_sum::DOUBLE / 1000000.0 / n_anchors::DOUBLE, 6) AS mrr
        |FROM (
        |  SELECT 1::BIGINT AS k, n_anchors, t1 AS hits, rr_sum FROM tot
        |  UNION ALL
        |  SELECT 3::BIGINT, n_anchors, t3, rr_sum FROM tot
        |  UNION ALL
        |  SELECT 5::BIGINT, n_anchors, t5, rr_sum FROM tot)
        |ORDER BY k""".stripMargin,
    "q215_ivf_recall" ->
      s"""WITH $oracleGridAsg,
        |an AS (
        |  SELECT vec_id AS a_id, list_id AS a_list, qe AS a_qe, qn AS a_qn
        |  FROM asg WHERE vec_id % 37 = 0),
        |sc AS (
        |  SELECT an.a_id, an.a_list, c.vec_id AS c_id, c.list_id AS c_list,
        |         (list_sum([an.a_qe[i] * c.qe[i] FOR i IN range(1, 65)])::BIGINT)::DOUBLE
        |           / (sqrt(an.a_qn::DOUBLE) * sqrt(c.qn::DOUBLE)) AS cos
        |  FROM an JOIN asg c ON c.vec_id <> an.a_id),
        |ex AS (
        |  SELECT a_id, c_id FROM (
        |    SELECT a_id, c_id, row_number() OVER (PARTITION BY a_id
        |             ORDER BY cos DESC, c_id ASC) AS rn FROM sc)
        |  WHERE rn <= 5),
        |ap AS (
        |  SELECT a_id, c_id FROM (
        |    SELECT a_id, c_id, row_number() OVER (PARTITION BY a_id
        |             ORDER BY cos DESC, c_id ASC) AS rn
        |    FROM sc JOIN prb ON prb.vec_id = sc.a_id AND prb.list_id = sc.c_list)
        |  WHERE rn <= 5),
        |ov AS (
        |  SELECT an.a_id, coalesce(o.cnt, 0)::BIGINT AS n_common
        |  FROM an LEFT JOIN (
        |    SELECT e.a_id, count(*)::BIGINT AS cnt
        |    FROM ex e JOIN ap USING (a_id, c_id) GROUP BY e.a_id) o
        |    ON o.a_id = an.a_id),
        |m AS (
        |  SELECT round(sum(n_common)::DOUBLE / (count(*) * 5)::DOUBLE, 6) + 0.0
        |           AS mean_recall
        |  FROM ov)
        |SELECT n_common, count(*)::BIGINT AS n_anchors, m.mean_recall
        |FROM ov CROSS JOIN m
        |GROUP BY n_common, m.mean_recall ORDER BY n_common""".stripMargin,
    // per-anchor argmax over both label classes, same rounded cosines,
    // tie on candidate id via QUALIFY — bit-identical
    "q211_hard_negatives" ->
      """WITH a AS (
        |  SELECT vec_id AS anchor, label AS a_label, embedding AS a_emb
        |  FROM embeddings WHERE vec_id % 37 = 0),
        |s AS (
        |  SELECT a.anchor, a.a_label, e.vec_id AS cand, e.label AS c_label,
        |         round(list_cosine_similarity(a.a_emb::DOUBLE[],
        |                                      e.embedding::DOUBLE[]), 6) + 0.0 AS cos
        |  FROM a JOIN embeddings e ON e.vec_id <> a.anchor),
        |p AS (
        |  SELECT anchor, a_label, cand AS pos_id, cos AS pos_cos
        |  FROM s WHERE c_label = a_label
        |  QUALIFY row_number() OVER (PARTITION BY anchor
        |                             ORDER BY cos DESC, cand ASC) = 1),
        |n AS (
        |  SELECT anchor, cand AS neg_id, cos AS neg_cos
        |  FROM s WHERE c_label <> a_label
        |  QUALIFY row_number() OVER (PARTITION BY anchor
        |                             ORDER BY cos DESC, cand ASC) = 1)
        |SELECT p.anchor, p.a_label::BIGINT AS label, p.pos_id, p.pos_cos,
        |       n.neg_id, n.neg_cos
        |FROM p JOIN n USING (anchor)
        |ORDER BY p.anchor""".stripMargin,
    // the identical greedy trajectory unrolled: same rounded sims, same
    // (mmr desc, vec_id) argmax per round, same (sq − maxpair)/2 chain
    "q210_mmr_rerank" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |cand AS (
        |  SELECT a.vec_id, a.embedding, round($oracleCos, 6) + 0.0 AS sq
        |  FROM embeddings a CROSS JOIN q WHERE a.vec_id <> 0
        |  ORDER BY sq DESC, a.vec_id LIMIT 12),
        |pair AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j,
        |         round(list_cosine_similarity(a.embedding::DOUBLE[],
        |                                      b.embedding::DOUBLE[]), 6) + 0.0 AS sp
        |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
        |s1 AS (
        |  SELECT vec_id, sq, 1 AS rank, sq AS mmr
        |  FROM cand ORDER BY sq DESC, vec_id LIMIT 1),
        |r2 AS (
        |  SELECT c.vec_id, c.sq, (c.sq - max(p.sp)) / 2.0 AS mmr
        |  FROM cand c JOIN pair p ON p.i = c.vec_id
        |   AND p.j IN (SELECT vec_id FROM s1)
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
        |  GROUP BY c.vec_id, c.sq),
        |s2 AS (SELECT vec_id, sq, 2 AS rank, mmr FROM r2
        |       ORDER BY mmr DESC, vec_id LIMIT 1),
        |r3 AS (
        |  SELECT c.vec_id, c.sq, (c.sq - max(p.sp)) / 2.0 AS mmr
        |  FROM cand c JOIN pair p ON p.i = c.vec_id
        |   AND p.j IN (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2)
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM s1
        |                         UNION ALL SELECT vec_id FROM s2)
        |  GROUP BY c.vec_id, c.sq),
        |s3 AS (SELECT vec_id, sq, 3 AS rank, mmr FROM r3
        |       ORDER BY mmr DESC, vec_id LIMIT 1)
        |SELECT rank::BIGINT AS rank, vec_id, sq, round(mmr, 6) + 0.0 AS mmr
        |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |      UNION ALL SELECT * FROM s3)
        |ORDER BY rank""".stripMargin,
    // the WHOLE approximate pipeline replayed: integer-grid snap, exact
    // BIGINT dots/norms, the single-chain double scores (bit-identical
    // by IEEE exact rounding on identical operands — no accumulation
    // order anywhere), hash-sample seeding (md5(vec_id) order),
    // DERIVED nLists/nprobe, assignment / probe / kNN / vote
    // tie-breaks mirrored term for term
    // base-seeded centroids, grid-exact assignment of base AND arrivals,
    // same integer cross-multiplied split trigger
    "q235_ivf_maintenance" ->
      """WITH en AS (
        |  SELECT vec_id,
        |         [floor(x::DOUBLE * 1048576 + 0.5)::BIGINT FOR x IN embedding] AS qe,
        |         (CAST(('0x' || substr(md5(vec_id::VARCHAR), 1, 1)) AS INT) >= 12) AS is_new
        |  FROM embeddings),
        |c AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)::INT
        |               AS list_id,
        |             qe AS ce,
        |             list_sum([x * x FOR x IN qe])::BIGINT AS cn
        |      FROM (SELECT * FROM en WHERE NOT is_new
        |            ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16) s),
        |a AS (SELECT e.vec_id, e.is_new, c.list_id,
        |             list_sum([e.qe[i] * c.ce[i] FOR i IN range(1, 65)])::BIGINT AS qdot, c.cn
        |      FROM en e CROSS JOIN c),
        |asg AS (SELECT vec_id, is_new, list_id FROM (
        |          SELECT *, row_number() OVER (PARTITION BY vec_id
        |            ORDER BY qdot::DOUBLE / sqrt(cn::DOUBLE) DESC, list_id ASC) AS rn FROM a)
        |        WHERE rn = 1),
        |per AS (SELECT list_id,
        |               sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END)::BIGINT AS n_base,
        |               sum(CASE WHEN is_new THEN 1 ELSE 0 END)::BIGINT AS n_new,
        |               sum(CASE WHEN is_new THEN vec_id ELSE 0 END)::BIGINT AS new_id_sum
        |        FROM asg GROUP BY list_id),
        |tot AS (SELECT sum(n_base + n_new)::BIGINT AS n_total_all FROM per)
        |SELECT list_id::BIGINT AS list_id, n_base, n_new,
        |       (n_base + n_new)::BIGINT AS n_total,
        |       round(n_new::DOUBLE / (n_base + n_new), 6) + 0.0 AS new_share,
        |       ((n_base + n_new) * 16 > n_total_all * 2) AS needs_split,
        |       new_id_sum
        |FROM per CROSS JOIN tot ORDER BY list_id""".stripMargin,
    "q105_knn_label" ->
      s"""WITH $oracleGridAsg,
        |p AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label, b.vec_id * 16 + b.label AS b_key,
        |         list_sum([q.qe[i] * b.qe[i] FOR i IN range(1, 65)])::BIGINT AS qdot,
        |         q.qn AS q_qn, b.qn AS b_qn
        |  FROM asg q
        |  JOIN prb pr ON pr.vec_id = q.vec_id
        |  JOIN asg b ON b.list_id = pr.list_id
        |  WHERE (CAST(('0x' || substr(md5(q.vec_id::VARCHAR), 1, 2)) AS INT)) < 64
        |    AND (CAST(('0x' || substr(md5(b.vec_id::VARCHAR), 1, 2)) AS INT)) >= 64),
        |s AS (SELECT q_id, q_label, b_key,
        |             qdot::DOUBLE / (sqrt(q_qn::DOUBLE) * sqrt(b_qn::DOUBLE)) AS cos FROM p),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, b_key ASC) AS rn FROM s),
        |t AS (SELECT q_id, q_label, (b_key % 16)::INT AS b_label FROM r WHERE rn <= 3),
        |v AS (SELECT q_id, q_label, b_label, count(*)::BIGINT AS cnt FROM t GROUP BY 1, 2, 3),
        |w AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cnt DESC, b_label ASC) AS rn2,
        |             sum(cnt) OVER (PARTITION BY q_id) AS n_nbrs
        |      FROM v)
        |SELECT q_id AS vec_id, q_label::BIGINT AS label, b_label::BIGINT AS pred,
        |       cnt AS n_votes, n_nbrs::BIGINT AS n_nbrs
        |FROM w WHERE rn2 = 1 ORDER BY vec_id""".stripMargin,
    // the identical md5-derived hyperplanes, sign bits, banding, and
    // exact-cosine verify rebuilt in SQL — the banding is mirrored, not
    // assumed, so a wrong bucket anywhere changes the candidate set.
    // Sign bits come from the engine's integer grid (⌊x·2^20 + 0.5⌋ ×
    // integer plane components): the dot is an exact BIGINT sum, so its
    // sign is identical in any summation order — no float-luck buckets
    "q84_srp_lsh" ->
      """WITH pl AS (
        |  SELECT p, i,
        |         (('0x' || substr(md5('srp_' || p || '_' || i), 1, 8))::BIGINT % 1001) - 500 AS k
        |  FROM range(0, 16) t1(p), range(0, 64) t2(i)),
        |s AS (
        |  SELECT e.vec_id, pl.p,
        |         CASE WHEN sum(floor(e.embedding[(pl.i + 1)::INT]::DOUBLE * 1048576 + 0.5)::BIGINT * pl.k) > 0
        |              THEN 1 ELSE 0 END AS bit
        |  FROM embeddings e, pl
        |  GROUP BY e.vec_id, pl.p),
        |sig AS (
        |  SELECT vec_id, (p // 4)::INT AS band,
        |         sum(bit * (1 << (p % 4)::INT))::BIGINT AS key
        |  FROM s GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
        |  FROM sig a JOIN sig b
        |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
        |SELECT c.va, c.vb,
        |       round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) + 0.0 AS cos
        |FROM cand c
        |JOIN embeddings ea ON ea.vec_id = c.va
        |JOIN embeddings eb ON eb.vec_id = c.vb
        |ORDER BY cos DESC, va ASC, vb ASC LIMIT 20""".stripMargin,
    // q84's plane derivation reused; each coordinate is the exact
    // integer dot (order-invariant), de-scaled by ONE division — the
    // single-chain construction is what makes `y` bit-identical
    "q114_random_projection" ->
      """WITH pl AS (
        |  SELECT p, i,
        |         (('0x' || substr(md5('srp_' || p || '_' || i), 1, 8))::BIGINT % 1001) - 500 AS k
        |  FROM range(0, 16) t1(p), range(0, 64) t2(i)),
        |pr AS (
        |  SELECT e.vec_id, pl.p::BIGINT AS dim,
        |         sum(floor(e.embedding[(pl.i + 1)::INT]::DOUBLE * 1048576 + 0.5)::BIGINT * pl.k)::BIGINT AS proj
        |  FROM embeddings e, pl
        |  GROUP BY 1, 2)
        |SELECT vec_id, dim, proj, proj::DOUBLE / 524288000.0 AS y
        |FROM pr ORDER BY vec_id, dim""".stripMargin,
    // the engine's ⌊x·2^20 + 0.5⌋ integer grid mirrored exactly: both
    // moments are EXACT BIGINT sums (order-invariant by construction),
    // de-scaled by the same powers of two — every later double op is
    // exactly-rounded IEEE arithmetic on identical operands, so the
    // match is bit-for-bit, not tolerance-based
    "q88_gram_covariance" ->
      """WITH q AS (
        |  SELECT e.vec_id, r.i AS d,
        |         floor(e.embedding[(r.i + 1)::INT]::DOUBLE * 1048576 + 0.5)::BIGINT AS qx
        |  FROM embeddings e, range(0, 64) r(i)),
        |n AS (SELECT count(*)::DOUBLE AS n FROM embeddings),
        |s AS (SELECT d, sum(qx) / 1048576.0 AS sd FROM q GROUP BY 1),
        |g AS (
        |  SELECT a.d AS i, b.d AS j, sum(a.qx * b.qx) / 1099511627776.0 AS g
        |  FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.d >= a.d
        |  GROUP BY 1, 2)
        |SELECT g.i::BIGINT AS i, g.j::BIGINT AS j,
        |       round(g.g, 4) + 0.0 AS gram_sum,
        |       round((g.g - si.sd * sj.sd / n.n) / (n.n - 1), 6) + 0.0 AS cov
        |FROM g JOIN s si ON si.d = g.i JOIN s sj ON sj.d = g.j CROSS JOIN n
        |ORDER BY i, j""".stripMargin,
    // the quantizer (⌊x·127/max|x| + 0.5⌋, clamped) mirrored in list
    // comprehensions; codes are small integers, so dot/norm sums are
    // EXACT in double in any summation order — only the final
    // divide/sqrt can differ, absorbed by round 6
    "q68_quantized_cosine" ->
      """WITH b AS (
        |  SELECT vec_id, label, embedding,
        |         list_max([abs(x::DOUBLE) FOR x IN embedding]) AS mx
        |  FROM embeddings WHERE vec_id <> 0),
        |bq AS (
        |  SELECT vec_id, label, embedding,
        |         [greatest(-127.0, least(127.0, floor(x::DOUBLE * 127.0 / mx + 0.5))) FOR x IN embedding] AS qe
        |  FROM b WHERE mx > 0),
        |q AS (
        |  SELECT embedding AS qv, list_max([abs(x::DOUBLE) FOR x IN embedding]) AS mx
        |  FROM embeddings WHERE vec_id = 0),
        |qq AS (
        |  SELECT qv, [greatest(-127.0, least(127.0, floor(x::DOUBLE * 127.0 / mx + 0.5))) FOR x IN qv] AS qqv
        |  FROM q WHERE mx > 0)
        |SELECT vec_id, label,
        |       round(list_cosine_similarity(qe, qqv), 6) + 0.0 AS qcos,
        |       round(abs(list_cosine_similarity(qe, qqv) -
        |                 list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[])), 5) AS qerr
        |FROM bq CROSS JOIN qq
        |ORDER BY qcos DESC, vec_id ASC LIMIT 10""".stripMargin,
    // identical ground truth to q44 — full-probe IVF must be exact
    "q63_ivf_full_probe" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT a.vec_id, a.label, round($oracleCos, 6) + 0.0 AS cos
        |FROM embeddings a CROSS JOIN q WHERE a.vec_id <> 0
        |ORDER BY cos DESC, a.vec_id ASC LIMIT 10""".stripMargin,
    // identical ground truth to q44 — the native expression must agree
    "q61_cosine_expr_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT a.vec_id, a.label, round($oracleCos, 6) + 0.0 AS cos
        |FROM embeddings a CROSS JOIN q WHERE a.vec_id <> 0
        |ORDER BY cos DESC, a.vec_id ASC LIMIT 10""".stripMargin,
    // the inner-product ground truth the augmented-cosine ranking must
    // reproduce — the oracle states MIPS directly, no augmentation
    "q158_mips_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT a.vec_id, a.label,
        |       round(list_inner_product(a.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) + 0.0 AS ip
        |FROM embeddings a CROSS JOIN q WHERE a.vec_id <> 0
        |ORDER BY ip DESC, a.vec_id ASC LIMIT 10""".stripMargin,
    "q44_cosine_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT a.vec_id, a.label, round($oracleCos, 6) + 0.0 AS cos
        |FROM embeddings a CROSS JOIN q WHERE a.vec_id <> 0
        |ORDER BY cos DESC, a.vec_id ASC LIMIT 10""".stripMargin,
    "q45_ann_grouped" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |c AS (
        |  SELECT a.vec_id, a.label, round($oracleCos, 6) + 0.0 AS cos
        |  FROM embeddings a CROSS JOIN q WHERE a.vec_id <> 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY label ORDER BY cos DESC, vec_id ASC) AS rnk FROM c)
        |SELECT label, rnk, vec_id, cos FROM r WHERE rnk <= 3 ORDER BY label, rnk""".stripMargin,
    // identical ground truth to q46 — the bucketed path must be exact
    "q46b_nn_pairs_bucketed" ->
      """WITH p AS (
        |  SELECT a.vec_id, b.vec_id AS nn_id,
        |         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) + 0.0 AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_id ASC) AS rnk FROM p)
        |SELECT vec_id, nn_id, cos FROM r WHERE rnk = 1 ORDER BY vec_id""".stripMargin,
    "q46_nn_pairs" ->
      """WITH p AS (
        |  SELECT a.vec_id, b.vec_id AS nn_id,
        |         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) + 0.0 AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_id ASC) AS rnk FROM p)
        |SELECT vec_id, nn_id, cos FROM r WHERE rnk = 1 ORDER BY vec_id""".stripMargin,
    // four q77-style trajectories, one per 16-dim slice, each ending in
    // its FINAL codebook (c2_s) and the per-vector squared error — the
    // whole chain generated per subspace (the kmeans-oracle device ×4)
    "q142_pq_codes" -> {
      s"""WITH ${(0 until 4).map(pqOracleSub).mkString(",\n")}
         |SELECT vec_id, err_0.cid AS c0, err_1.cid AS c1, err_2.cid AS c2, err_3.cid AS c3,
         |       round(err_0.e + err_1.e + err_2.e + err_3.e, 6) AS err
         |FROM err_0 JOIN err_1 USING (vec_id) JOIN err_2 USING (vec_id) JOIN err_3 USING (vec_id)
         |ORDER BY vec_id""".stripMargin
    },
    // grid-IVF routing + the PQ/ADC replay, composed: the probed list is
    // the query's nearest by the exact integer argmax; candidates =
    // that list minus the query; ranking identical to q143's
    "q147_ivf_pq_search" -> {
      def dt(s: Int): String = {
        val lo = s * 16 + 1; val hi = s * 16 + 16
        s"""q_$s AS (SELECT [x::DOUBLE FOR x IN embedding[$lo:$hi]] AS v
           |         FROM embeddings WHERE vec_id = 0),
           |dt_$s AS (
           |  SELECT c.cid,
           |         list_sum([(q.v[i] - c.v[i]) * (q.v[i] - c.v[i]) FOR i IN range(1, 17)]) AS d
           |  FROM c2_$s c CROSS JOIN q_$s q)""".stripMargin
      }
      s"""WITH $oracleGridAsg,
         |${(0 until 4).map(pqOracleSub).mkString(",\n")},
         |${(0 until 4).map(dt).mkString(",\n")},
         |ql AS (SELECT list_id FROM prb WHERE vec_id = 0),
         |cand AS (SELECT asg.vec_id FROM asg JOIN ql USING (list_id) WHERE asg.vec_id <> 0)
         |SELECT a0.vec_id, a0.cid AS c0, a1.cid AS c1, a2x.cid AS c2, a3.cid AS c3,
         |       round(d0.d + d1.d + d2.d + d3.d, 6) + 0.0 AS adist
         |FROM a2_0 a0 JOIN a2_1 a1 USING (vec_id)
         |     JOIN a2_2 a2x USING (vec_id) JOIN a2_3 a3 USING (vec_id)
         |     JOIN cand USING (vec_id)
         |     JOIN dt_0 d0 ON d0.cid = a0.cid JOIN dt_1 d1 ON d1.cid = a1.cid
         |     JOIN dt_2 d2 ON d2.cid = a2x.cid JOIN dt_3 d3 ON d3.cid = a3.cid
         |ORDER BY adist, a0.vec_id LIMIT 10""".stripMargin
    },
    // the four c2_s codebooks again, then the ADC replay: an 8-row
    // distance table per subspace (query slice vs c2_s, the same
    // left-to-right list_sum fold), 4 lookups summed per vector
    "q143_pq_adc_search" -> {
      def dt(s: Int): String = {
        val lo = s * 16 + 1; val hi = s * 16 + 16
        s"""q_$s AS (SELECT [x::DOUBLE FOR x IN embedding[$lo:$hi]] AS v
           |         FROM embeddings WHERE vec_id = 0),
           |dt_$s AS (
           |  SELECT c.cid,
           |         list_sum([(q.v[i] - c.v[i]) * (q.v[i] - c.v[i]) FOR i IN range(1, 17)]) AS d
           |  FROM c2_$s c CROSS JOIN q_$s q)""".stripMargin
      }
      s"""WITH ${(0 until 4).map(pqOracleSub).mkString(",\n")},
         |${(0 until 4).map(dt).mkString(",\n")}
         |SELECT a0.vec_id, a0.cid AS c0, a1.cid AS c1, a2x.cid AS c2, a3.cid AS c3,
         |       round(d0.d + d1.d + d2.d + d3.d, 6) + 0.0 AS adist
         |FROM a2_0 a0 JOIN a2_1 a1 USING (vec_id)
         |     JOIN a2_2 a2x USING (vec_id) JOIN a2_3 a3 USING (vec_id)
         |     JOIN dt_0 d0 ON d0.cid = a0.cid JOIN dt_1 d1 ON d1.cid = a1.cid
         |     JOIN dt_2 d2 ON d2.cid = a2x.cid JOIN dt_3 d3 ON d3.cid = a3.cid
         |WHERE a0.vec_id <> 0
         |ORDER BY adist, a0.vec_id LIMIT 10""".stripMargin
    },
    // the a2 trajectory joined to the doc term stream; integer counts
    // ranked (cnt desc, term asc) per cluster
    "q156_cluster_topics" ->
      s"""WITH $oracleKmeansA2,
        |t AS (
        |  SELECT a2.cid, x.term
        |  FROM a2 JOIN (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |  ) x ON a2.vec_id = x.doc_id
        |  WHERE x.term <> ''),
        |c AS (SELECT cid, term, count(*)::BIGINT AS cnt FROM t GROUP BY 1, 2),
        |r AS (SELECT cid, term, cnt,
        |             row_number() OVER (PARTITION BY cid ORDER BY cnt DESC, term ASC) AS rnk
        |      FROM c)
        |SELECT cid AS cluster_id, rnk, term, cnt
        |FROM r WHERE rnk <= 3 ORDER BY cluster_id, rnk""".stripMargin,
    // the q77 trajectory extended one update (u2/c2 = the FINAL
    // snapped centroids fit() returns), then the same silhouette
    // chains: list_reduce's first-element seed == the 0.0-seeded
    // left fold exactly in IEEE
    "q397_silhouette" ->
      ("WITH " + oracleKmeansA2 + """,
        |u2 AS (
        |  SELECT cid, i, round(avg(x), 6) AS m
        |  FROM (SELECT a2.cid, unnest(e.v) AS x, unnest(range(1, 65)) AS i
        |        FROM a2 JOIN e USING (vec_id))
        |  GROUP BY cid, i),
        |cf AS (SELECT cid, list(m ORDER BY i) AS v FROM u2 GROUP BY cid),
        |dd AS (
        |  SELECT e.vec_id, a2.cid, c.cid AS ccid,
        |         list_reduce([(e.v[i] - c.v[i]) * (e.v[i] - c.v[i])
        |                      FOR i IN range(1, 65)],
        |                     (acc, z) -> acc + z) AS d2
        |  FROM e JOIN a2 USING (vec_id) CROSS JOIN cf c),
        |ab AS (
        |  SELECT vec_id, cid,
        |         min(CASE WHEN ccid = cid THEN d2 END) AS a2d,
        |         min(CASE WHEN ccid <> cid THEN d2 END) AS b2d
        |  FROM dd GROUP BY 1, 2),
        |sc AS (
        |  SELECT cid,
        |         floor((sqrt(b2d) - sqrt(a2d)) /
        |               greatest(sqrt(a2d), sqrt(b2d)) * 1000000000.0
        |               + 0.5)::BIGINT AS s_u
        |  FROM ab),
        |per AS (SELECT cid, count(*)::BIGINT AS n, sum(s_u)::BIGINT AS ss
        |        FROM sc GROUP BY 1),
        |tt AS (SELECT sum(n)::BIGINT AS nt, sum(ss)::BIGINT AS st FROM per)
        |SELECT per.cid AS cluster_id, per.n,
        |       round(per.ss::DOUBLE / per.n::DOUBLE / 1.0e9, 6) + 0.0
        |         AS mean_silhouette,
        |       round(tt.st::DOUBLE / tt.nt::DOUBLE / 1.0e9, 6) + 0.0
        |         AS overall_silhouette
        |FROM per, tt ORDER BY cluster_id""").stripMargin,
    "q77_kmeans" ->
      s"""WITH $oracleKmeansA2
        |SELECT cid AS cluster_id, count(*)::BIGINT AS n,
        |       round(avg(v[1]), 6) + 0.0 AS c0, round(avg(v[2]), 6) + 0.0 AS c1,
        |       round(avg(v[3]), 6) + 0.0 AS c2, round(avg(v[4]), 6) + 0.0 AS c3
        |FROM a2 JOIN e USING (vec_id)
        |GROUP BY cid ORDER BY cid""".stripMargin,
    // the trajectory replayed, then the SAME md5-byte budget test the
    // engine applies — thresholds, kept counts, and the kept-id sum
    // must all reproduce
    "q79_cluster_sample" ->
      s"""WITH $oracleKmeansA2,
        |b AS (
        |  SELECT cid, count(*)::BIGINT AS n_total,
        |         least(256, ceil(2048.0 / count(*)))::INT AS thr
        |  FROM a2 GROUP BY cid),
        |k AS (
        |  SELECT a2.vec_id, a2.cid
        |  FROM a2 JOIN b USING (cid)
        |  WHERE ('0x' || substr(md5(a2.vec_id::VARCHAR), 1, 2))::INT < b.thr)
        |SELECT b.cid AS cluster_id, b.n_total, b.thr,
        |       count(*)::BIGINT AS n_kept, sum(k.vec_id)::BIGINT AS sum_kept
        |FROM k JOIN b USING (cid)
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "q47_centroid" ->
      """SELECT label, count(*)::BIGINT AS n,
        |       round(avg(embedding[1]::DOUBLE), 6) + 0.0 AS c0,
        |       round(avg(embedding[2]::DOUBLE), 6) + 0.0 AS c1,
        |       round(avg(embedding[3]::DOUBLE), 6) + 0.0 AS c2,
        |       round(avg(embedding[4]::DOUBLE), 6) + 0.0 AS c3
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin
  )
}
