package graft

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Counts driver round-trips and I/O per registry query: Spark jobs
  * launched, stages run, tasks scheduled, task input bytes (`taskIn`,
  * the stages' `inputMetrics.bytesRead`) and shuffle bytes written,
  * for the full warm noop-sink execution of each named query.
  * `taskIn` is what tasks report as input: reads of cached and
  * checkpointed blocks (the pinned Lloyd training frame), plus the
  * bytes the Hadoop file-system statistics see. It is NOT the parquet
  * scan size: a full scan of sf0.1's 798,695-byte embeddings.parquet
  * reports 2,076 bytes, and of its 10.8 MB lineitem.parquet 17.8 KB,
  * so a per-round corpus re-scan barely moves it. The committed numbers back the
  * round's job-shape claims (fixpoint rounds, training re-scans) that
  * AQE-final plan dumps cannot show — those plans hide per-round work
  * behind RDD-scan leaves. Test-side instrument, same license as
  * DailyJobProfiler.
  *
  * Usage: Test/runMain graft.JobCountProbe <sfDir> <query1,query2,...>
  */
object JobCountProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicLong
    val stages = new AtomicLong
    val tasks = new LongAdder
    val taskIn = new LongAdder
    val shuffleWrite = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.add(s.stageInfo.numTasks.toLong)
        taskIn.add(s.stageInfo.taskMetrics.inputMetrics.bytesRead)
        shuffleWrite.add(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        if (sys.env.contains("JOBPROBE_STAGES")) {
          val m = s.stageInfo.taskMetrics
          println(f"  STAGE ${s.stageInfo.stageId}%4d tasks ${s.stageInfo.numTasks}%4d " +
            f"shufW ${m.shuffleWriteMetrics.bytesWritten}%9d B " +
            f"shufWrecs ${m.shuffleWriteMetrics.recordsWritten}%9d " +
            f"shufR ${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.2f MB " +
            f"taskIn ${m.inputMetrics.bytesRead / 1e6}%7.2f MB  ${s.stageInfo.name.take(60)}")
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = ()
    })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
      BusDrain(spark.sparkContext)
      jobs.set(0); stages.set(0); tasks.reset(); taskIn.reset(); shuffleWrite.reset()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      BusDrain(spark.sparkContext)
      println(f"JOBPROBE $name%-34s ${sec}%6.3f s  jobs ${jobs.get()}%4d  stages ${stages.get()}%4d  " +
        f"tasks ${tasks.sum()}%5d  taskIn ${taskIn.sum() / 1e6}%9.1f MB  shufW ${shuffleWrite.sum() / 1e3}%9.1f KB")
    }
    spark.stop()
  }
}
