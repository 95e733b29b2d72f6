package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builder-side SCALE PROBE: inflate the sf0.1 fixture by an integer
  * factor into a scratch directory, preserving each table's
  * distributional character, so the heaviest committed queries can be
  * timed at sf1-equivalent volume (the super-linearity check the sf0.1
  * sweep cannot perform). The driver's fixtures are read-only and stop
  * at sf0.1; this probe is the only way to observe a 10× data point.
  *
  * Usage: `graft.ScaleProbe <baseSfDir> <outDir> <factor> [wordmode]` —
  * then run `graft.Bench` with `SPARK_GRAFT_SF_DIR=<outDir>` (from a
  * scratch CWD: Bench drops `bench.json` where it runs). `wordmode`
  * selects the document transform: `suffix` (default, the historical
  * probe) or `rotate` (see below).
  *
  * Inflation is REPLICA-BASED and deterministic (no RNG): replica 0 is
  * the original table; replica r>0 shifts every key by `r * STRIDE`.
  * The transforms are chosen so WITHIN-replica structure (the thing the
  * heavy queries measure) is preserved exactly while CROSS-replica
  * collisions are suppressed — naive row duplication would instead give
  * every document `factor-1` identical twins and blow candidate pairs
  * up by ~factor² inside every LSH bucket, turning a linear-scaling
  * probe into an adversarial-duplication benchmark (a different, wrong,
  * experiment):
  *  - documents, `suffix` mode (default): every word of a replica-r>0
  *    doc is suffixed `~r`, so replica shingle/gram spaces are pairwise
  *    DISJOINT — shingle df, near-dup cluster sizes, and doc-length
  *    distributions are all exactly the original's, replicated
  *    `factor` times. Known limitation (the rounds-17/18 caveat):
  *    WORD spaces are disjoint but CHAR-trigram spaces are NOT —
  *    trigrams inside word roots are shared across replicas, so
  *    char-gram df inflates ×factor and prefix-filter/fingerprint
  *    candidate volume super-linearly, which real fresh content would
  *    not do (rare grams stay rare as a real corpus grows);
  *  - documents, `rotate` mode: replica r>0 is an ALPHABET-ROTATED
  *    copy — `translate` with letters Caesar-shifted by 1+(r−1)%25 and
  *    digits by 1+(r−1)%9. A character substitution is an ISOMORPHISM
  *    of the text: every within-replica statistic (word df, char-gram
  *    df, lengths, duplicate structure, fingerprint collisions) is
  *    preserved exactly, while replica CHAR-gram spaces are disjoint
  *    up to coincidence (a rotated trigram equals a base trigram only
  *    by accident) — i.e., each replica contributes FRESH rare grams,
  *    the organic-growth regime. Rotation pairs repeat every 25
  *    replicas (r and r+25 share letter shift), a documented ≤30×
  *    limit. Measuring the gram-family queries under both modes
  *    separates replication artifact from genuine super-linearity;
  *  - embeddings: replica r>0 flips the sign of dimensions
  *    `i % 16 == (r-1) % 16` — an orthogonal reflection, so all
  *    within-replica norms, dot products, cosines, and neighbor ranks
  *    are bit-preserved while replicas land in different orthants;
  *  - orders/lineitem: key columns shift by `r * STRIDE` per key space,
  *    replicating the join graph (degree distribution, co-purchase
  *    component structure) `factor` times, disjointly.
  * Dimension-table-scale inputs (region/nation/customer/supplier/part/
  * events) are passed through unchanged: the probed queries treat them
  * as dims or don't read them, and inflating a dim would change
  * broadcast-ability — the one thing a scale probe must not distort.
  */
object ScaleProbe {
  private val STRIDE = 10000000L // > any sf0.1 key; keeps keys < 2^31

  def main(args: Array[String]): Unit = {
    val (base, out, factor) = (args(0), args(1), args(2).toInt)
    val wordMode = if (args.length > 3) args(3) else "suffix"
    require(factor >= 2, s"factor must be >= 2, got $factor")
    require(Set("suffix", "rotate")(wordMode),
      s"wordmode must be suffix|rotate, got $wordMode")
    val spark = GraftSession.local()

    def reps(df: DataFrame): DataFrame =
      df.withColumn("r", explode(expr(s"sequence(0L, ${factor - 1}L)")))

    /** Inflated tables are REPARTITIONED before writing. The sf0.1 base
      * tables are single small files, and `reps` preserves the input's
      * partitioning — so every probe table used to land as ONE fat file
      * whose 128 MB parquet row groups bound scan parallelism (a 76 MB
      * single-row-group documents file = a 1-of-32-cores scan; the
      * sf10-equivalent round-19 sweep measured exactly that as
      * apparent super-linearity). Real data at the probed volume lives
      * in many files; 32 files per inflated table restores the layout
      * a cluster would actually read. Round-robin repartition changes
      * file assignment only, never table content.
      */
    def write(name: String, df: DataFrame, inflated: Boolean = true): Unit = {
      val out_df = if (inflated) df.repartition(32) else df
      out_df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleprobe] $name x$factor written")
    }

    // documents: disjoint word spaces per replica, structure preserved
    // (rotate mode additionally keeps replica CHAR-gram spaces fresh —
    // the organic-growth control for the gram-family queries)
    val docs = reps(Tables.documents(spark, base))
    val docOut =
      if (wordMode == "rotate") {
        val letters = "abcdefghijklmnopqrstuvwxyz"
        val upper = letters.toUpperCase
        val digits = "0123456789"
        val from = letters + upper + digits
        def to(r: Int): String = {
          val ls = 1 + (r - 1) % 25; val ds = 1 + (r - 1) % 9
          letters.drop(ls) + letters.take(ls) +
            upper.drop(ls) + upper.take(ls) +
            digits.drop(ds) + digits.take(ds)
        }
        val rotText = (1 until factor)
          .foldLeft(when(col("r") === 0, col("text"))) { case (acc, r) =>
            acc.when(col("r") === r, translate(col("text"), from, to(r)))
          }
        docs.select(
          (col("doc_id") + col("r") * STRIDE).as("doc_id"),
          rotText.as("text"),
          col("lang"), col("source"),
          // character substitution preserves length exactly
          col("n_chars"))
      } else
        docs.select(
          (col("doc_id") + col("r") * STRIDE).as("doc_id"),
          expr("IF(r = 0, text, array_join(transform(split(text, ' '), " +
            "w -> concat(w, '~', r)), ' '))").as("text"),
          col("lang"), col("source"),
          expr("IF(r = 0, n_chars, length(array_join(transform(split(text, ' '), " +
            "w -> concat(w, '~', r)), ' ')))").as("n_chars"))
    write("documents", docOut)

    // embeddings: orthogonal reflection per replica (geometry-preserving)
    write("embeddings", reps(Tables.embeddings(spark, base))
      .select(
        (col("vec_id") + col("r") * STRIDE).as("vec_id"),
        expr("transform(embedding, (x, i) -> " +
          "IF(r > 0 AND i % 16 = (r - 1) % 16, -x, x))").as("embedding"),
        col("label")))

    // orders/lineitem: disjoint key spaces per replica (join graph x factor)
    write("orders", reps(Tables.orders(spark, base))
      .select(
        (col("o_orderkey") + col("r") * STRIDE).as("o_orderkey"),
        (col("o_custkey") + col("r") * STRIDE).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")))
    write("lineitem", reps(Tables.lineitem(spark, base))
      .select(
        (col("l_orderkey") + col("r") * STRIDE).as("l_orderkey"),
        (col("l_partkey") + col("r") * STRIDE).as("l_partkey"),
        (col("l_suppkey") + col("r") * STRIDE).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate")))

    // pass-through dims + events (unchanged broadcast-ability AND
    // unchanged layout — a dim stays the single small file it is)
    Seq("region", "nation", "customer", "supplier", "part", "events")
      .foreach(t => write(t, Tables.load(spark, base, t), inflated = false))
    spark.stop()
  }
}
