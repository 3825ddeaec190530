package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-SQL-execution profiler for the steady-state faces — the
  * instrument behind the r18/r19 fixed-cost trims, housed test-side
  * so it can never ship in the production artifact (r18 VERDICT: two
  * scratch copies of this were committed under src/main).
  *
  * Wall-clock on this host swings 2–3×, so the numbers are for
  * ATTRIBUTION (which executions dominate a face, how many jobs a
  * day runs), not for cross-run comparison — compare job counts and
  * relative shares, not absolute seconds.
  *
  * Run with:
  *   sbt 'Test/runMain graft.DailyJobProfiler daily /root/testdata/sf0.1'
  *   sbt 'Test/runMain graft.DailyJobProfiler query accept_preview_audit /root/testdata/sf0.1'
  */
object DailyJobProfiler {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("daily")
    val temp = TempRoot.deletedAtExit("graft_prof")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", temp.dir("graft_prof_wh"))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .appName("graft-prof").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val starts = scala.collection.concurrent.TrieMap[Long, (Long, String)]()
    val execs = scala.collection.mutable.ArrayBuffer[(Long, Double, Double, String)]()
    @volatile var capture = false
    @volatile var captureT0 = 0L
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case st: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            starts(st.executionId) = (System.nanoTime, st.description.linesIterator.next())
          case en: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
            starts.remove(en.executionId).foreach { case (t0, cs) =>
              if (capture) execs.synchronized {
                execs += ((en.executionId, (t0 - captureT0) / 1e9,
                  (System.nanoTime - t0) / 1e9, cs)) }
            }
          case _ =>
        }
    })
    def report(label: String): Unit = execs.synchronized {
      // the TIMELINE (start offset + duration per execution, in exec
      // order) makes driver-side gaps between executions visible —
      // the fixed-cost component wall-vs-exec sums cannot attribute
      execs.sortBy(_._1).foreach { case (id, off, d, cs) =>
        println(f"PROFLINE @$off%7.2f +$d%6.2f s  exec$id%-8s $cs")
      }
      execs.sortBy(-_._3).take(12).foreach { case (id, _, d, cs) =>
        println(f"PROFEXEC $d%7.2f s  exec$id%-8s $cs")
      }
      println(f"PROFEXEC [$label] total ${execs.map(_._3).sum}%7.2f s over ${execs.size} executions")
      execs.clear()
    }

    mode match {
      case "daily" =>
        // mirrors Bench's run_incremental_daily harness exactly:
        // bootstrap outside the capture window, profile day 1. An
        // optional THIRD arg profiles the ScaleCheck shape instead —
        // corpus from `sfDir` (e.g. the replicated
        // /tmp/graft_scale/sf100x), fixed day deltas from `oneDir`
        // (copy 0), raw parquet reads like ScaleCheck's.
        val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
        val oneDir = args.lift(2)
        val post = "graft_prof_inc_post"; val hash = "graft_prof_inc_hash"
        val chunk = "graft_prof_inc_chunk"; val sem = "graft_prof_inc_sem"
        val charlm = "graft_prof_inc_charlm"
        Pipeline.dropIncrementalState(spark, post, hash,
          chunkTable = Some(chunk), semanticTable = Some(sem),
          charlmTable = Some(charlm))
        def rawDocs(d: String) =
          if (oneDir.isEmpty) Tables.documents(spark, d)
          else spark.read.parquet(s"$d/documents.parquet")
        def rawEmbs(d: String) =
          if (oneDir.isEmpty) Tables.embeddings(spark, d)
          else spark.read.parquet(s"$d/embeddings.parquet")
        val docs = rawDocs(oneDir.getOrElse(sfDir))
          .withColumn("__h", substring(md5(col("doc_id").cast("string")), 1, 2))
        val embs = rawEmbs(oneDir.getOrElse(sfDir))
          .select(col("vec_id").as("doc_id"), col("embedding"))
        val corpusDocs = rawDocs(sfDir)
          .withColumn("__h", substring(md5(col("doc_id").cast("string")), 1, 2))
          .filter(col("__h") >= "0c").drop("__h")
        val corpusEmbs = rawEmbs(sfDir)
          .select(col("vec_id").as("doc_id"), col("embedding"))
        Pipeline.bootstrapIncremental(
          corpusDocs.select(col("doc_id"), col("text")), post, hash,
          chunkTable = Some(chunk), semanticTable = Some(sem),
          corpusEmbeddings =
            Some(corpusEmbs.join(corpusDocs.select("doc_id"), Seq("doc_id"), "left_semi")),
          charlmTable = Some(charlm),
          bloomShards = 16)
        val base = temp.dir("graft_prof_inc")
        val days = Seq(("00", "04"), ("04", "08"), ("08", "0c")).zipWithIndex.map {
          case ((lo, hi), i) =>
            val dayDocs = docs.filter(col("__h") >= lo && col("__h") < hi).drop("__h")
            val dir = s"$base/day$i"
            dayDocs.write.parquet(s"$dir/documents.parquet")
            (dir, embs.join(dayDocs.select("doc_id"), Seq("doc_id"), "left_semi"), i)
        }
        // capture EVERY day (r20: the bench's charlm-armed face showed
        // day-over-day GROWTH 11 → 16 → 19 s — per-day attribution is
        // the point now, not just day 1's fixed costs)
        days.foreach { case (dir, dayEmbs, i) =>
          captureT0 = System.nanoTime; capture = true
          val t0 = System.nanoTime
          val sm = Pipeline.runIncremental(spark, dir, s"$base/out$i",
            post, hash, chunkTable = Some(chunk), semanticTable = Some(sem),
            deltaEmbeddings = Some(dayEmbs),
            charlmTable = Some(charlm), charlmRareFracMax = Some(0.5))
          println(f"PROF day$i ${(System.nanoTime - t0) / 1e9}%8.2f s  " +
            sm.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
          capture = false; report(s"day$i")
        }
        // the saturation-rebuild surcharge, attributed per execution
        // (r18 VERDICT #5: 0.96 → 2.2 s unattributed)
        captureT0 = System.nanoTime; capture = true
        val tR = System.nanoTime
        operators.Dedup.rebuildHashBloom(spark, post, operators.Dedup.bandKeySql)
        println(f"PROF bloom_saturation_rebuild ${(System.nanoTime - tR) / 1e9}%8.2f s")
        capture = false
        report("rebuild")
      case "trigger" =>
        // the accept-preview trigger in ScaleCheck's shape: full
        // bootstrap + cached probes outside the capture, decideDelta
        // on the fixed re-keyed 1x delta captured per execution.
        //   Test/runMain graft.DailyJobProfiler trigger /tmp/graft_scale/sf100x /tmp/graft_scale/sf1x
        val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
        val oneDir = args.lift(2).getOrElse(dir)
        val post = "graft_proftr_post"; val hash = "graft_proftr_hash"
        val chunk = "graft_proftr_chunk"; val sem = "graft_proftr_sem"
        val charlm = "graft_proftr_charlm"
        Pipeline.dropIncrementalState(spark, post, hash, chunkTable = Some(chunk),
          semanticTable = Some(sem), charlmTable = Some(charlm))
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val embs = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id").as("doc_id"), col("embedding"))
        Pipeline.bootstrapIncremental(docs.select(col("doc_id"), col("text")),
          post, hash, chunkTable = Some(chunk), semanticTable = Some(sem),
          corpusEmbeddings =
            Some(embs.join(docs.select("doc_id"), Seq("doc_id"), "left_semi")),
          charlmTable = Some(charlm), bloomShards = 16)
        val probes = operators.Dedup.probeMapFor(spark, post, hash, Some(chunk))
        val off = 500000000000000L
        val delta = spark.read.parquet(s"$oneDir/documents.parquet")
          .withColumn("doc_id", col("doc_id") + lit(off))
          .withColumn("text", concat(col("text"), lit(" previewtok")))
          .localCheckpoint()
        val deltaEmbs = spark.read.parquet(s"$oneDir/embeddings.parquet")
          .select((col("vec_id") + lit(off)).as("doc_id"), col("embedding"))
          .localCheckpoint()
        def trig(): Unit = Pipeline.decideDelta(spark, delta, post, hash,
            chunkTable = Some(chunk), semanticTable = Some(sem),
            deltaEmbeddings = Some(deltaEmbs),
            charlmTable = Some(charlm), charlmRareFracMax = Some(0.5),
            probeOverrides = probes)
          .verdicts.write.format("noop").mode("overwrite").save()
        trig()
        captureT0 = System.nanoTime; capture = true
        val tT = System.nanoTime
        trig()
        println(f"PROF trigger ${(System.nanoTime - tT) / 1e9}%8.2f s (run 2)")
        capture = false
        report("trigger")
      case "query" =>
        // profile any registry row: warm-up run untimed, capture run 2
        val name = args(1)
        val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
        val q = SparkEntry.queries(name)
        q(spark, sfDir).write.format("noop").mode("overwrite").save()
        captureT0 = System.nanoTime; capture = true
        val t0 = System.nanoTime
        q(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"PROF $name ${(System.nanoTime - t0) / 1e9}%8.2f s (run 2)")
        capture = false
        report(name)
      case other => sys.error(s"unknown mode $other (daily | query <name>)")
    }
    spark.stop()
  }
}
