package graftbench

import graft.{Pipeline, SparkEntry, Tables}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** One benchmark process: set up one workload, then run a fixed number
  * of ops (one cold, `warm` untimed-for-the-median warm-ups, `measured`
  * measured ones), each after a `System.gc()` outside the clock. Prints
  * one line `GRAFTBENCH {json}` with the set-up time, every op's wall
  * and output check payload, and with `--trace 1` the per-layer
  * counters. Checking the payloads is the caller's job (`run.py`), so
  * no check work runs inside or beside a timed region.
  *
  * A traced run given `--daily DIR` then also bootstraps the daily
  * ingest's state and runs `--daily-days` days of it ([[DailyIngest]]),
  * reported under `daily` in the same form.
  *
  * Usage: Main --workload W --data DIR --base DIR --work DIR --cores N --warm N
  *   --measured N --trace 0|1 --launch-ns EPOCH_NS [--order FAMILY:ROW,...]
  *   [--daily DIR --daily-days N]
  */
object Main {

  /** A workload: `setup` runs once (inside `setup_s`); `op(i)` is the
    * i-th timed op and returns its output-check payload and its own
    * wall, which excludes any check work the op had to do. */
  trait Workload {
    def spans: Seq[String]
    /** Spans whose `io_mb` is bytes written; the others report bytes read. */
    def writeSpans: Set[String]
    def setup(t: Option[Tracer]): Unit = ()
    def op(i: Int, t: Option[Tracer]): (Map[String, String], Double)
    /** An execution's physical plan → its span, for Auto-span ops. */
    def classify(plan: String): String = spans.last
    /** Spans that close an op (see [[Tracer.collect]]). */
    def tail: Set[String] = Set.empty
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def auto[T](t: Option[Tracer])(body: => T): T =
    t.fold(body)(_.span(Tracer.Auto)(body))

  /** `Pipeline.runBatch` over the generated corpus, rewriting one output
    * directory every pass. */
  final class Medallion(spark: SparkSession, data: String, work: String) extends Workload {
    val spans = Seq("bronze", "silver", "gold", "ner", "views", "counts")
    val writeSpans = Set("bronze", "silver", "gold", "ner", "views")
    def op(i: Int, t: Option[Tracer]) = {
      val (summary, s) = timed(auto(t)(Pipeline.runBatch(spark, data, s"$work/medallion")))
      (summary.map { case (k, v) => k -> v.toString }, s)
    }
    override def classify(plan: String): String = Tracer.writeTarget(plan) match {
      case Some((_, p)) if p.endsWith("/bronze") => "bronze"
      case Some((_, p)) if p.endsWith("/silver") => "silver"
      case Some((_, p)) if p.endsWith("/gold") => "gold"
      case Some((_, p)) if p.endsWith("/entities") => "ner"
      case Some((_, p)) if p.contains("/views/") => "views"
      case _ => "counts"
    }
  }

  /** `Pipeline.runIncremental` days against state bootstrapped in set-up,
    * with every arm on (chunk, semantic PQ, charlm, 16 bloom shards) and
    * 8 index buckets, sized to a corpus of a few hundred docs.
    * The exact-hash index compacts at one file per bucket, so every day
    * ends with one compaction and the `compact` span is priced on every
    * op; the other indexes keep the default cadence. Writes to a day's
    * directory are `heavy_hitters` and `accepted`; index, manifest and
    * bloom writes are `index_append`; executions that write nothing
    * are `decide`. */
  final class DailyIngest(spark: SparkSession, data: String, base: String, work: String) extends Workload {
    val spans = Seq("bootstrap", "heavy_hitters", "accepted", "index_append", "compact", "decide")
    val writeSpans = Set("bootstrap", "heavy_hitters", "accepted", "index_append", "compact")
    private val (post, hash, chunk, sem, charlm) =
      ("gb_post", "gb_hash", "gb_chunk", "gb_sem", "gb_charlm")
    private lazy val embs = Tables.embeddings(spark, base)
      .select(col("vec_id").as("doc_id"), col("embedding"))

    override def setup(t: Option[Tracer]): Unit = {
      def boot(): Unit = {
        val corpus = Tables.documents(spark, s"$data/corpus")
        Pipeline.bootstrapIncremental(corpus.select(col("doc_id"), col("text")), post, hash,
          chunkTable = Some(chunk), semanticTable = Some(sem),
          corpusEmbeddings = Some(embs.join(corpus.select("doc_id"), Seq("doc_id"), "left_semi")),
          charlmTable = Some(charlm), bloomShards = 16, buckets = 8)
      }
      t.fold(boot())(_.span("bootstrap")(boot()))
    }

    def op(i: Int, t: Option[Tracer]) = {
      val day = f"$data/day$i%02d"
      val dayEmbs = embs.join(Tables.documents(spark, day).select("doc_id"), Seq("doc_id"),
        "left_semi")
      val (summary, s) = timed(auto(t)(Pipeline.runIncremental(spark, day,
        f"$work/daily/out$i%02d", post, hash, chunkTable = Some(chunk),
        semanticTable = Some(sem), deltaEmbeddings = Some(dayEmbs),
        charlmTable = Some(charlm), charlmRareFracMax = Some(0.5),
        compactFilesPerBucketByTable = Map(hash -> 1))))
      (summary.map { case (k, v) => k -> v.toString }, s)
    }

    // an op closes with the compaction: its staging rewrite, the swap
    // and the bloom recounts after it
    override val tail = Set("compact")
    override def classify(plan: String): String = Tracer.writeTarget(plan) match {
      case Some((_, p)) if p.contains("__staging") => "compact"
      case Some((_, p)) if p.endsWith("/accepted") => "accepted"
      case Some((_, p)) if p.endsWith("/heavy_hitters") => "heavy_hitters"
      case Some(_) => "index_append"
      case None => "decide"
    }
  }

  /** Read-only registry rows, each timed as a full `collect()` in the
    * span of its family; `order` is `(family, row)` in run order. The
    * rows are hashed after the clock stops. */
  final class QueryMix(spark: SparkSession, data: String, order: Seq[(String, String)])
      extends Workload {
    val spans: Seq[String] = order.map(_._1).distinct
    val writeSpans = Set.empty[String]
    val rowSeconds = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def op(i: Int, t: Option[Tracer]) = {
      var wall = 0.0
      val hashes = order.map { case (fam, name) =>
        def rows() = SparkEntry.queries(name)(spark, data).collect()
        val (collected, s) = timed(t.fold(rows())(_.span(fam)(rows())))
        wall += s
        rowSeconds.getOrElseUpdate(name, mutable.ArrayBuffer()) += s
        name -> RowHash(collected)
      }
      (hashes.toMap, wall)
    }
  }

  /** An order-independent digest of collected rows; doubles are printed
    * to 10 significant digits so a reordered floating-point sum does not
    * read as a different answer. */
  object RowHash {
    private def fmt(v: Any): String = v match {
      case null => "null"
      case d: Double => "%.10g".format(d)
      case f: Float => "%.10g".format(f.toDouble)
      case r: Row => r.toSeq.map(fmt).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => fmt(k) + ":" + fmt(x) }.sorted.mkString("{", ",", "}")
      case a: Array[_] => a.map(fmt).mkString("[", ",", "]")
      case o => o.toString
    }
    def apply(rows: Array[Row]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rows.map(fmt).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
      s"${rows.length}:" + md.digest().take(8).map("%02x".format(_)).mkString
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchNs = a("launch-ns").toLong
    val cores = a("cores").toInt
    val (warm, measured) = (a("warm").toInt, a("measured").toInt)
    val trace = a("trace") == "1"
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer(spark, cores)) else None
    val w: Workload = a("workload") match {
      case "medallion" => new Medallion(spark, a("data"), work)
      case "query_mix" => new QueryMix(spark, a("data"),
        a("order").split(",").toSeq.map(_.split(":") match { case Array(f, r) => (f, r) }))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val main = run(w, tracer, warm, measured)
    val setupS = (main.setupEndNs - launchNs) / 1e9
    // a traced run can also price the daily ingest's layers: set-up
    // bootstraps the state, then `daily-days` days run (the first cold)
    val daily = for (t <- tracer; dir <- a.get("daily")) yield {
      val d = new DailyIngest(spark, dir, a("base"), work)
      d -> run(d, Some(t), 0, a("daily-days").toInt - 1)
    }

    val out = new StringBuilder
    out ++= s"""{"setup_s":$setupS,"cores":$cores,"""
    out ++= opsJson(w, main, warm)
    w match {
      case q: QueryMix => out ++= s""","row_seconds":${Json.obj(q.rowSeconds.map {
          case (k, v) => k -> v.mkString("[", ",", "]") }.toMap, raw = true)}"""
      case _ =>
    }
    daily.foreach { case (d, r) => out ++= s""","daily":{${opsJson(d, r, 0)}}""" }
    out ++= "}"
    spark.stop()
    println("GRAFTBENCH " + out)
  }

  /** One op's outcome: its check payload and wall, or its error. */
  final case class Op(res: Either[String, (Map[String, String], Double)],
                      trace: Option[OpTrace])

  /** What [[run]] saw: set-up's end (epoch ns) and trace, then the ops. */
  final case class Run(setupEndNs: Long, setupTrace: Option[OpTrace], ops: Seq[Op])

  /** Sets `w` up, then runs its cold, warm-up and measured ops, each
    * after a `System.gc()` outside the clock. */
  private def run(w: Workload, tracer: Option[Tracer], warm: Int, measured: Int): Run = {
    val tSetup0 = System.currentTimeMillis()
    w.setup(tracer)
    val tSetup1 = System.currentTimeMillis()
    val setupEndNs = nowNs()
    val setupTrace = tracer.map(_.collect(tSetup0, tSetup1, w.classify, w.tail))
    System.err.println(f"GRAFTBENCH setup ${(tSetup1 - tSetup0) / 1e3}%.3fs of workload set-up")
    val ops = (0 until 1 + warm + measured).map { i =>
      System.gc()
      val t0 = System.currentTimeMillis()
      val res = try Right(w.op(i, tracer)) catch {
        case e: Throwable => Left(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      System.err.println(s"GRAFTBENCH op $i ${res.map(_._2)}")
      Op(res, tracer.map(_.collect(t0, System.currentTimeMillis(), w.classify, w.tail)))
    }
    Run(setupEndNs, setupTrace, ops)
  }

  private def opsJson(w: Workload, r: Run, warm: Int): String = {
    val body = r.ops.zipWithIndex.map { case (op, i) =>
      val kind = if (i == 0) "cold" else if (i <= warm) "warm" else "measured"
      val res = op.res match {
        case Right((check, s)) => s""""ok":true,"wall_s":$s,"check":${Json.obj(check)}"""
        case Left(err) => s""""ok":false,"error":${Json.str(err)}"""
      }
      s"""{"kind":"$kind",$res,"trace":${op.trace.map(traceJson(w, _)).getOrElse("null")}}"""
    }.mkString(""""ops":[""", ",", "]")
    body + r.setupTrace.map(t => s""","setup_trace":${traceJson(w, t)}""").getOrElse("")
  }

  private def nowNs(): Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000000L + t.getNano
  }

  /** Flat per-layer counters: `<span>.<field>` for every span of the
    * workload, plus `driver_gap_s` and `core_busy` of the op. */
  private def traceJson(w: Workload, t: OpTrace): String = {
    val m = mutable.LinkedHashMap[String, Double]()
    w.spans.foreach { s =>
      val st = t.spans.getOrElse(s, SpanStats.Zero)
      m(s"$s.wall_s") = st.wallS
      m(s"$s.jobs") = st.jobs.toDouble
      m(s"$s.tasks") = st.tasks.toDouble
      m(s"$s.cpu_s") = st.cpuS
      m(s"$s.shuffle_mb") = st.shuffleMb
      m(s"$s.io_mb") = if (w.writeSpans(s)) st.outMb else st.inMb
      if (w.isInstanceOf[QueryMix]) m(s"$s.plan_ms") = st.planMs
    }
    // counters that fell outside every declared span, so none go missing
    val other = t.spans.keySet -- w.spans
    m("unattributed.jobs") = other.toSeq.map(t.spans(_).jobs).sum.toDouble
    m("driver_gap_s") = t.driverGapS
    m("core_busy") = t.coreBusy
    Json.obj(m.map { case (k, v) => k -> v.toString }.toMap, raw = true)
  }
}

/** Just enough JSON for flat maps. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""
  def obj(m: Map[String, String], raw: Boolean = false): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + (if (raw) v else str(v)) }
      .mkString("{", ",", "}")
}
