package graft

import java.nio.file.{Files, Path}

import org.apache.spark.graft.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (building one per suite
  * costs ~5 s each; the session is process-wide anyway). Every
  * directory a spec needs comes from [[tempDir]]: it lives under one
  * per-suite root that is deleted after the suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private lazy val temp = new TempRoot(s"graft_${getClass.getSimpleName}_")

  /** A fresh directory under this suite's temp root. */
  protected def tempDir(prefix: String): String = temp.dir(prefix)

  override protected def afterAll(): Unit =
    try super.afterAll() finally temp.delete()

  /** `n` seeded Gaussian `dims`-float embeddings in the embeddings
    * table's shape `(vec_id, embedding, label)`, vec_ids 0..n-1. */
  protected def randomEmbeddings(n: Int, dims: Int = 64, seed: Long = 7L): DataFrame = {
    val rnd = new scala.util.Random(seed)
    spark.createDataFrame((0 until n).map(i =>
      (i.toLong, Seq.fill(dims)(rnd.nextGaussian().toFloat), 0)))
      .toDF("vec_id", "embedding", "label")
  }

  /** `f`'s result and the number of Spark jobs it launched, counted by
    * a listener on jobs tagged with a local property of this thread
    * once the listener bus has delivered every event. */
  protected def sparkJobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobs"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) != null)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "counted")
      val r = try f finally sc.setLocalProperty(key, null)
      BusDrain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }

  /** `f`'s result and the number of SQL executions it ran (successful
    * or failed), counted by a QueryExecutionListener once the listener
    * bus has delivered every event. */
  protected def sqlExecutions[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    BusDrain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        n.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        n.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try {
      val r = f
      BusDrain(sc)
      (r, n.get)
    } finally spark.listenerManager.unregister(listener)
  }
}

object SparkSpec {
  // saveAsTable (bucketed-write specs) must not litter the repo with a
  // ./spark-warehouse directory; the session outlives every suite, so
  // its warehouse goes when the test JVM exits
  private val warehouse = TempRoot.deletedAtExit("graft_warehouse")

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.dir("wh"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** A temp directory created on first use, with fresh subdirectories
  * under it and a best-effort recursive delete. */
final class TempRoot(prefix: String) {
  private lazy val root: Path = Files.createTempDirectory(prefix)
  @volatile private var created = false

  def dir(name: String): String = {
    created = true
    Files.createTempDirectory(root, name).toString
  }

  def delete(): Unit = if (created) deleteTree(root.toFile)

  private def deleteTree(f: java.io.File): Unit = {
    if (!Files.isSymbolicLink(f.toPath)) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object TempRoot {
  /** A [[TempRoot]] deleted when the JVM exits. */
  def deletedAtExit(prefix: String): TempRoot = {
    val t = new TempRoot(prefix)
    sys.addShutdownHook(t.delete())
    t
  }
}
