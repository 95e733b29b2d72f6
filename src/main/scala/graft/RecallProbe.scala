package graft

import org.apache.spark.sql.functions._

/** Measurement main for the IVF recall operating point (the round-18
  * audit's open defect: nLists went adaptive while nprobe stayed
  * literal, and nobody re-measured recall at the new geometry).
  *
  * Two measurements, both printed as single lines for BASELINE.md:
  *
  *  1. recall@5 vs nprobe AT this corpus's adaptive geometry — the
  *     q229 audit device (`SimilarityQueries.nprobeCurve`) run over an
  *     extended probe grid, so the production `adaptiveNProbe` point
  *     sits inside a measured curve instead of being extrapolated from
  *     the 500-vector oracle corpus;
  *  2. coarse-quantizer list-occupancy profile under the production
  *     md5 hash-sample seeding vs the pre-round-19 first-N-by-id rule
  *     (max/mean occupancy — the skew number the seeding change is
  *     about; on the synthetic fixture vec_id is uncorrelated with
  *     embedding space so the two should look alike — the point of
  *     printing both is to SHOW that, while `IvfAnnSpec`'s
  *     source-sorted fixture shows the divergence the rule prevents).
  *
  * Usage: runMain graft.RecallProbe <sfDir> [np1,np2,...]
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)

    val nL = operators.IvfAnn.adaptiveNLists(spark, dir)
    val np = operators.IvfAnn.adaptiveNProbe(spark, dir)
    val n = operators.IvfAnn.corpusCount(spark, dir)
    println(s"[recallprobe] dir=$dir corpus=$n nLists=$nL production_nprobe=$np")

    val grid =
      if (args.length > 1) args(1).split(",").map(_.trim.toInt).toSeq
      else (Seq(1, 2, 4, 8, 16, 32, 64) ++ Seq(np)).distinct.sorted.filter(_ <= nL)
    val t0 = System.nanoTime()
    val rows = queries.SimilarityQueries.nprobeCurve(spark, dir, grid).collect()
    val curveSecs = (System.nanoTime() - t0) / 1e9
    rows.foreach { r =>
      val npv = r.getLong(0); val rec = r.getDouble(1)
      val mark = if (npv == np) "  <- production (adaptiveNProbe)" else ""
      println(f"[recallprobe] nprobe=$npv%4d scan_frac=${npv.toDouble / nL}%.4f " +
        f"mean_recall@5=$rec%.4f$mark")
    }
    println(f"[recallprobe] curve wall=$curveSecs%.1f s (grid of ${grid.size} points)")

    // occupancy A/B: production seeding vs the pre-round-19 by-id rule
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    def occ(seedOrd: Seq[org.apache.spark.sql.Column], tag: String): Unit = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(seedOrd: _*)
      val cents = emb.orderBy(seedOrd: _*).limit(nL)
        .select(row_number().over(w).cast("int").as("list_id"),
          col("embedding").as("centroid"))
      val sizes = Tables.spread(emb)
        .crossJoin(broadcast(cents))
        .selectExpr("vec_id", "list_id", "cosine_sim(embedding, centroid) AS sim")
        .groupBy("vec_id")
        .agg(max(struct(col("sim"), (-col("list_id")).as("neg"))).as("b"))
        .select((-col("b.neg")).as("list_id"))
        .groupBy("list_id").count()
        .select(col("count")).collect().map(_.getLong(0))
      val mx = sizes.max; val mean = n.toDouble / nL
      println(f"[recallprobe] occupancy[$tag]: lists=$nL nonempty=${sizes.length} " +
        f"max=$mx mean=$mean%.1f max/mean=${mx / mean}%.2f")
    }
    occ(Seq(md5(col("vec_id").cast("string")), col("vec_id")), "md5-sample")
    occ(Seq(col("vec_id")), "by-id-pre-r19")
    spark.stop()
  }
}
