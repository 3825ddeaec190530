package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.sys.process._

import graft.operators.{Corpus, Pq}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class InputMemoSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Overwrite the single-file parquet `dir/name.parquet` in place with
    * `keep`'s rows of it: same path, new size and mtime. */
  private def rewriteInPlace(dir: String, name: String)(keep: DataFrame => DataFrame): Unit = {
    val out = tempDir(s"rewrite_$name") + "/out"
    keep(spark.read.parquet(s"$dir/$name.parquet")).localCheckpoint()
      .coalesce(1).write.parquet(out)
    val part = new java.io.File(out).listFiles.find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a hit and a miss return the same rows: an input file rewritten in place under its old name rebuilds") {
    val dir = tempDir("sf")
    Seq("documents", "embeddings").foreach(t => Files.copy(
      Paths.get(s"$sf/$t.parquet"), Paths.get(s"$dir/$t.parquet")))
    def bmb(docs: DataFrame) =
      Corpus.bloomFilterAuditMergeBatched(docs).orderBy("arm").collect().toSeq
    def opq(embs: DataFrame) = Pq.opqGain(embs, deterministic = true).head()
    val bmbBefore = bmb(Tables.documents(spark, dir))
    val opqBefore = opq(Tables.embeddings(spark, dir))
    rewriteInPlace(dir, "documents")(_.filter(col("doc_id") % 3 =!= 0))
    rewriteInPlace(dir, "embeddings")(_.filter(col("vec_id") % 3 =!= 0))
    val bmbAfter = bmb(Tables.documents(spark, dir))
    val opqAfter = opq(Tables.embeddings(spark, dir))
    // a checkpointed copy has no file fingerprint, so it never hits
    val bmbFresh = bmb(Tables.documents(spark, dir).localCheckpoint())
    val opqFresh = opq(Tables.embeddings(spark, dir).localCheckpoint())
    assert(bmbFresh !== bmbBefore, "the rewrite must change the rows")
    assert(opqFresh !== opqBefore, "the rewrite must change the row")
    assert(bmbAfter === bmbFresh, "bloomFilterAuditMergeBatched served the old file's state")
    assert(opqAfter === opqFresh, "opqGain encoded with codebooks trained on the old file")
  }

  test("memo contract: plan and file identity, in-memory inputs, eviction, session sweep, owned tables") {
    val embs = Tables.embeddings(spark, sf)
    /** How many of `inputs`' calls, in order, built under `memo`. */
    def builds(memo: InputMemo[Int], inputs: (Any, DataFrame)*): Int = {
      var n = 0
      inputs.foreach { case (op, in) => memo(op, Seq(in))(_ => Nil) { n += 1; n } }
      n
    }
    val cases: Seq[(String, () => Unit)] = Seq(
      "same files, different plan: misses" -> (() => {
        val memo = new InputMemo[Int](cap = 4)
        assert(builds(memo, "op" -> embs, "op" -> Tables.embeddings(spark, sf),
          "op" -> embs.filter(col("vec_id") % 2 === 0)) === 2)
        assert(builds(memo, "other op" -> embs) === 1, "an entry serves its own op only")
      }),
      "an in-memory input: builds on every call" -> (() => {
        val memo = new InputMemo[Int](cap = 4)
        val local = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
        assert(builds(memo, "op" -> local, "op" -> local, "op" -> embs.localCheckpoint()) === 3)
        assert(memo.size === 0)
      }),
      "past the cap: the least recently used entry goes first" -> (() => {
        val memo = new InputMemo[Int](cap = 2)
        assert(builds(memo, 1 -> embs, 2 -> embs, 3 -> embs) === 3)
        assert(memo.size === 2)
        assert(builds(memo, 1 -> embs) === 1, "the oldest entry was evicted")
        assert(builds(memo, 3 -> embs, 2 -> embs) === 1, "entry 3 hits; 1's put evicted entry 2")
        assert(builds(memo, 3 -> embs, 1 -> embs) === 1,
          "entry 3, refreshed by its hit, stays; 2's put evicted entry 1")
      }),
      "a stopped session: its entries are swept at the next put" -> (() => {
        val data = tempDir("sweep") + "/t.parquet"
        Seq(1L, 2L).toDF("id").write.parquet(data)
        val javaBin = s"${System.getProperty("java.home")}/bin/java"
        val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
          .toArray.map(_.toString).filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
        val (out, err) = (new StringBuilder, new StringBuilder)
        val exit = (Seq(javaBin) ++ jvm ++ Seq("-Xmx768m", "-cp", System.getProperty("java.class.path"),
            "graft.InputMemoSweep", data, tempDir("sweep_wh"))) !
          ProcessLogger(l => out.append(l).append('\n'), l => err.append(l).append('\n'))
        assert(exit === 0, s"the child JVM failed: $err")
        assert(out.toString.linesIterator.toSeq.lastOption.contains("entries 1 1"),
          s"the stopped session's entry survived the put: $out")
      }),
      "another writer rewrites an owned table: writeSemanticIndexPqOnce rebuilds" -> (() => {
        Seq("graft_pq_once", "graft_pq_once__centroids", "graft_pq_once__codebooks")
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
        val corpus = embs.select(col("vec_id").as("doc_id"), col("embedding"))
        def files = spark.table("graft_pq_once").inputFiles.toSet
        Pq.writeSemanticIndexPqOnce(corpus, "graft_pq_once")
        val built = files
        Pq.writeSemanticIndexPqOnce(corpus, "graft_pq_once")
        assert(files === built, "the repeat must hit")
        val rows = spark.table("graft_pq_once").localCheckpoint()
        spark.sql("DROP TABLE graft_pq_once")
        rows.write.format("parquet").saveAsTable("graft_pq_once")
        val rewritten = files
        Pq.writeSemanticIndexPqOnce(corpus, "graft_pq_once")
        assert(files !== rewritten, "the memo trusted a table another writer rewrote")
      }))
    cases.foreach { case (name, check) => withClue(s"[$name] ")(check()) }
  }
}

/** A child JVM's half of the stopped-session spec: one memo, an entry
  * put under a session that is then stopped, and a put under a new
  * session. Prints the entry counts after each put. */
object InputMemoSweep {
  def main(args: Array[String]): Unit = {
    def session() = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", args(1)).getOrCreate()
    val memo = new InputMemo[Int](cap = 4)
    val first = session()
    memo("op", Seq(first.read.parquet(args(0))))(_ => Nil)(1)
    val afterFirst = memo.size
    first.stop()
    val second = session()
    memo("op", Seq(second.read.parquet(args(0))))(_ => Nil)(2)
    println(s"entries $afterFirst ${memo.size}")
    second.stop()
  }
}
