package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Times the semantic_pq_retrain_day steady face in isolation (the
  * forced codebook retrain + full re-encode against a persisted
  * index), min-of-4, with each run's Spark job count — the A/B
  * instrument for the Lloyd loop on the index-write path. Test-side,
  * same license as DailyJobProfiler. */
object RetrainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val corpus = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    operators.Ann.writeSemanticIndex(corpus, "rp_sem")
    val e = spark.table("rp_sem")
      .select(col("doc_id"), col("emb").as("embedding"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    val runs = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(400) // let the async listener bus drain
      jobs.set(0)
      val t0 = System.nanoTime()
      operators.Pq.writeSemanticIndexPq(e, "rp_sem__pq",
        sharedCentroids = Some(spark.table("rp_sem__centroids")))
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(400)
      (sec, jobs.get())
    }
    println(f"RETRAINPROBE runs ${runs.map(r => f"${r._1}%.3f").mkString(" ")} " +
      f"min ${runs.map(_._1).min}%.3f jobs ${runs.map(_._2).mkString(" ")}")
    spark.stop()
  }
}
