package graft.sources

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, max, sum}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Sinks (SURVEY §2 #43) — the analogs of the reference's PG upsert
  * (`/root/reference/services/batch_pg.py:114`) and batched ES bulk
  * flush (`/root/reference/processor/es_streamer.py`).
  */
object Sinks {

  /** Partitioned parquet write: partition columns become directory
    * keys, so downstream readers partition-prune instead of scanning —
    * the storage layout that replaces the reference's per-row upsert
    * at scale. `maxRecordsPerFile` bounds file size so a skewed
    * partition can't produce a multi-GB file. */
  def writeParquet(df: DataFrame, path: String, partitionCols: Seq[String],
                   maxRecordsPerFile: Long = 5000000L,
                   codec: String = "zstd"): Unit = {
    // zstd over the snappy default: ~25-35% smaller files at similar
    // decode speed — at 100 TB the scan is IO-bound and the smaller
    // footprint wins on every read, for one slightly slower write
    val w = df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("compression", codec)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** Idempotent backfill write: dynamic partition overwrite replaces
    * ONLY the partitions present in `df`, leaving every other
    * partition untouched — re-running one day's batch rewrites that
    * day, not the table (static overwrite mode would truncate
    * everything first; append would duplicate the rerun). The
    * partition-overwrite conf is scoped to this write and restored. */
  def backfillParquet(df: DataFrame, path: String,
                      partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "backfill needs partition columns to scope the overwrite")
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try {
      df.write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy(partitionCols: _*)
        .parquet(path)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Bucketed table write: rows are hash-clustered into `buckets`
    * files per partition on `bucketCols`, and the layout is recorded
    * in the catalog. A later join or aggregation on the bucket
    * columns consumes the files' clustering directly — NO shuffle of
    * the fact table at read time (spec-verified: the bucketed
    * fact⋈fact join plan has zero Exchanges). This is the
    * pre-partitioning story for 100 TB fact-to-fact joins that are
    * too big to broadcast and too frequent to re-shuffle per query:
    * pay the shuffle once at write, never at read.
    * `saveAsTable` is required — bucket metadata lives in the
    * catalog, a bare path write would lose it. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    buckets: Int = 64): Unit =
    withJobDescription(df.sparkSession, s"graft writeBucketed $table") {
      // Same one-file-per-bucket contract as [[appendBucketed]], for
      // the same reason (r19): WITHOUT the repartition a bucketed
      // write lands one file per (writing task × bucket it touches),
      // and the writing task count tracks the INPUT's size — a 100×
      // corpus bootstrap produced tens of thousands of files per
      // index table, handing every subsequent probe a footer storm,
      // tripping the compaction ceiling on day 0, and turning the
      // daily fragmentation CHECK's recursive listing into the
      // dominant corpus-growth term of the measured daily ingest
      // (~26 s of a 40 s day at the 100× ScaleCheck). The price is
      // one index-sized shuffle at build time — exactly the shuffle
      // the day-0 compaction was already paying to undo the
      // fragmentation. Bucket counts stay the caller's sizing knob:
      // a corpus that would make per-bucket files unwieldy sizes
      // `buckets` up (README sizing rules), not the file-per-task
      // fragmentation down.
      df.repartition(buckets, bucketCols.map(org.apache.spark.sql.functions.col): _*)
        .write.mode("overwrite")
        .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
        .format("parquet")
        .saveAsTable(table)
    }

  /** Tag the jobs a block launches with a table-bearing description —
    * what the Spark UI (and the per-execution profiler) shows instead
    * of an anonymous `saveAsTable at Sinks.scala:N`. Restores the
    * caller's description on exit so nesting cannot leak tags. */
  private def withJobDescription[T](spark: org.apache.spark.sql.SparkSession,
                                    desc: String)(body: => T): T = {
    val prev = spark.sparkContext.getLocalProperty("spark.job.description")
    spark.sparkContext.setJobDescription(desc)
    try body finally spark.sparkContext.setJobDescription(prev)
  }

  /** Append to a bucketed table, keeping the declared layout: new
    * files hash into the SAME bucket scheme, so readers still join
    * shuffle-free after every append — the daily-increment write for
    * a [[writeBucketed]] index. The bucket spec must match the
    * existing table's (Spark validates; a mismatch is the
    * [[ensureBucketedTable]] change-the-shard-count error).
    *
    * The repartition makes each append write EXACTLY ONE file per
    * non-empty bucket: Spark's bucket-id expression is
    * `HashPartitioning(bucketCols, buckets).partitionIdExpression` —
    * the same pmod(murmur3) hash `repartition(buckets, cols)`
    * shuffles by — so every post-shuffle task holds exactly one
    * bucket's rows. Without it a bucketed append writes one file per
    * (writing task × bucket it touches): a 32-task delta over a
    * 64-bucket table can land 2048 files IN ONE DAY, and a year of
    * daily appends turns every index probe into a footer-reading
    * storm. The price is one delta-sized shuffle per append —
    * bounded by day size, never corpus size. Fragmentation still
    * accrues at one file per bucket per day; the ceiling is
    * [[compactBucketedIfFragmented]]'s job. */
  def appendBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                     buckets: Int = 64): Unit = {
    // An append must match the EXISTING table's declared layout, so
    // when the table is in the catalog its bucketSpec WINS over the
    // argument (r17 self-review: a corpus bootstrapped at a
    // non-default fan-out wedged its first daily append, which
    // hard-coded 64). Spark rejects a mismatched bucketBy anyway —
    // reading the catalog removes that failure mode without changing
    // any append that would have succeeded.
    val spark = df.sparkSession
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val n =
      if (spark.sessionState.catalog.tableExists(ident))
        spark.sessionState.catalog.getTableMetadata(ident).bucketSpec
          .map(_.numBuckets).getOrElse(buckets)
      else buckets
    withJobDescription(spark, s"graft appendBucketed $table") {
      df.repartition(n, bucketCols.map(org.apache.spark.sql.functions.col): _*)
        .write.mode("append")
        .bucketBy(n, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
        .format("parquet")
        .saveAsTable(table)
    }
  }

  /** Number of DATA files under a catalog table's location (hidden
    * and metadata files excluded) — the fragmentation measure
    * [[compactBucketedIfFragmented]] triggers on. A recursive listing
    * of the index table's directory: metadata-only, never reads a
    * row. */
  def tableDataFileCount(spark: org.apache.spark.sql.SparkSession, table: String): Long = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(loc)) 0L
    else {
      val it = fs.listFiles(loc, true)
      var n = 0L
      while (it.hasNext) {
        val name = it.next().getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) n += 1L
      }
      n
    }
  }

  /** Compact a bucketed index table when daily appends have
    * fragmented it past `maxFilesPerBucket` files per bucket — the
    * small-files ceiling for the ingest's ever-growing probe tables.
    * [[appendBucketed]] adds one file per bucket per day, so after N
    * days every bucketed probe opens N footers per bucket; this
    * rewrite collapses the table back to ONE file per bucket (the
    * repartition is the compaction) through [[rewriteBucketed]]'s
    * durable staging swap — the live table stays readable until two
    * metadata ops replace it, and a crash mid-swap is recovered by
    * [[recoverTableSwap]] on the next entry. Content-neutral by
    * construction (same rows, same layout), so persisted bloom
    * summaries and every probe stay valid across it.
    *
    * Cost honesty: each triggered rewrite reads the WHOLE index
    * (index-sized, not corpus-sized — these tables hold hashes and
    * signatures, not documents). At one new file per bucket per day
    * the trigger fires every ~`maxFilesPerBucket` days, so the
    * amortized daily cost is index/maxFilesPerBucket — the same
    * bounded-maintenance class as the bloom's geometric rebuild and
    * the chunk df-cap recap. Parallelism honesty: one output file
    * per bucket means the rewrite runs at BUCKET-COUNT parallelism
    * (each task merges one bucket) — which is exactly why the
    * cluster-sizing rule pins bucket counts to a multiple of
    * cluster cores (README "Sizing rules"): an index bucketed for
    * its cluster compacts at full width; 64 buckets on a
    * 1000-core cluster would compact 64-wide, so size the layout,
    * not this function. Returns whether a rewrite ran. */
  def compactBucketedIfFragmented(spark: org.apache.spark.sql.SparkSession,
                                  table: String,
                                  maxFilesPerBucket: Int = 64): Boolean = {
    recoverTableSwap(spark, table)
    // the layout comes from the CATALOG, not from caller arguments: a
    // compaction must reproduce the table's declared bucketing
    // exactly — a drifted buckets/cols argument here would silently
    // rewrite every file into the wrong hash placement
    spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).bucketSpec match {
      case None => false // not bucketed — nothing whose layout this owns
      case Some(spec) =>
        val buckets = spec.numBuckets
        val cols = spec.bucketColumnNames
        if (tableDataFileCount(spark, table) <= maxFilesPerBucket.toLong * buckets) false
        else {
          // force the BUCKETED scan for the rewrite: the planner
          // otherwise drops both the bucket-aware read (no operator
          // demands the distribution) AND any explicit repartition
          // (redundant against the relation's declared partitioning),
          // leaving arbitrary scan tasks that each write one file per
          // bucket they touch — reproducing the very fragmentation
          // being fixed. With the bucketed scan pinned, each task
          // reads exactly ONE bucket's files and writes exactly ONE
          // file: a per-bucket merge with ZERO shuffle — strictly
          // cheaper than a repartition-based compaction.
          //
          // Pinned on a CONF-ISOLATED session, not by flipping the
          // caller's conf around the rewrite (r15 ADVICE): a
          // concurrent job on the same session would otherwise run
          // with bucketed scans forced off-policy for the whole
          // compaction window. `newSession` shares the SparkContext
          // and the catalog (SharedState) — the DROP/RENAME swap is
          // visible to every session — but owns its SQLConf; runtime
          // confs are copied over because newSession starts from the
          // builder's statics, not the parent's runtime state (the
          // rewrite must see the caller's shuffle/AQE settings).
          val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
          val scoped = spark.newSession()
          spark.conf.getAll.foreach { case (k, v) =>
            // static/core entries reject runtime set — skip them, the
            // new session already inherited them from the context
            try scoped.conf.set(k, v) catch { case _: Exception => () }
          }
          // current database is CATALOG state, not a conf — a fresh
          // session starts in 'default', so without this a caller
          // that ran USE <db> would have its unqualified table name
          // resolved against the wrong database (self-review r16)
          scoped.catalog.setCurrentDatabase(spark.catalog.currentDatabase)
          scoped.conf.set(key, "false")
          rewriteBucketed(scoped.table(table), table, cols, buckets)
          // the DROP/RENAME swap ran through the scoped session's
          // catalog: refresh the CALLER's relation cache or its next
          // read of the table lists the pre-compaction files
          // (FAILED_READ_FILE) — the same stale-cache rule as the
          // streaming guard's cloned foreachBatch session
          spark.catalog.refreshTable(table)
          true
        }
    }
  }

  /** Restore a half-completed [[rewriteBucketed]]: a crash between its
    * DROP and RENAME leaves the only copy under `__staging` and no
    * target table. Any consumer of a rewritable bucketed table must
    * call this before reading (the rewrite's own entry does). No-op in
    * every other state — `__staging` next to a LIVE target is a
    * leftover of a crash before the DROP and is superseded, not
    * recovered. */
  def recoverTableSwap(spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    val staging = table + "__staging"
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(staging))
      spark.sql(s"ALTER TABLE $staging RENAME TO $table")
  }

  /** Rewrite a bucketed table FROM A DERIVATION OF ITSELF without a
    * window where the only copy lives in volatile storage. A plain
    * `writeBucketed` overwrite drops the table before writing, so the
    * source rows must survive somewhere first — and `localCheckpoint`
    * blocks live non-replicated on executors, where one lost executor
    * mid-rewrite destroys the only copy. Here the derivation lands as
    * a durable `__staging` TABLE while the live table is still
    * readable, then swaps in via two metadata ops (DROP + RENAME) —
    * the same staging-swap discipline as [[streamingUpsertSink]]'s
    * directory swap, at catalog grain. A crash before the DROP leaves
    * the live table untouched; between DROP and RENAME,
    * [[recoverTableSwap]] promotes the staging copy on the next run. */
  def rewriteBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                      buckets: Int = 64): Unit = {
    val spark = df.sparkSession
    val staging = table + "__staging"
    recoverTableSwap(spark, table)
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    writeBucketed(df, staging, bucketCols, buckets)
    spark.sql(s"DROP TABLE $table")
    completeTableSwap(spark, staging, table)
  }

  /** The RENAME leg of a staging swap, idempotent against a stolen
    * promotion (r16 ADVICE): a concurrent guard's [[recoverTableSwap]]
    * can promote `staging` INSIDE the DROP→RENAME window (it sees
    * exactly the mid-swap state the rewrite creates) — the swap is
    * then already complete, by another hand, with the same staging
    * rows; failing the maintenance job over it would turn a benign
    * heal race into a daily-run failure. Staging absent + target
    * present IS the completed-swap postcondition; any other failure
    * state propagates. */
  private[graft] def completeTableSwap(spark: org.apache.spark.sql.SparkSession,
                                         staging: String, table: String): Unit =
    try spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    catch {
      case e: Exception =>
        if (!(spark.catalog.tableExists(table) && !spark.catalog.tableExists(staging)))
          throw e
    }

  /** Catalog lifecycle for a bucketed table — the Spark analog of the
    * reference's `setup_index` (`/root/reference/services/es.py:39-115`:
    * create the index with mappings + shard settings before any
    * document lands, and never silently mutate them after). Three
    * outcomes, mirroring the ES rules:
    *
    *  - table absent → CREATE TABLE (empty, parquet, CLUSTERED BY the
    *    bucket columns INTO n BUCKETS) so readers/writers bind to the
    *    declared layout before data exists; returns `"created"`.
    *  - table present, layout + schema match → `"unchanged"`.
    *  - table present, schema GREW (new columns appended) → ALTER TABLE
    *    ADD COLUMNS; returns `"evolved:+n"`. Additive evolution is the
    *    only change parquet can absorb in place — old files read the
    *    new columns as null, exactly like adding an ES field mapping.
    *
    * Everything else fails loudly: a bucket-count or bucket-column
    * change is the ES change-the-shard-count case (every file's
    * hash placement is wrong — requires a rewrite via
    * [[writeBucketed]]), and a column type change or drop would make
    * existing parquet files unreadable/ambiguous (requires a rewrite).
    * Silent drift between what a producer expects and what the catalog
    * holds is the failure mode this guard exists for. */
  def ensureBucketedTable(spark: org.apache.spark.sql.SparkSession, table: String,
                          schema: org.apache.spark.sql.types.StructType,
                          bucketCols: Seq[String], buckets: Int = 64): String = {
    require(bucketCols.nonEmpty && buckets >= 1, "need bucket columns and buckets >= 1")
    require(bucketCols.forall(schema.fieldNames.contains),
      s"bucket columns ${bucketCols.mkString(",")} must be in the schema")
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val catalog = spark.sessionState.catalog
    def colDdl(f: org.apache.spark.sql.types.StructField) = s"`${f.name}` ${f.dataType.sql}"
    val quotedCols = bucketCols.map(c => s"`$c`").mkString(", ")
    if (!catalog.tableExists(ident)) {
      spark.sql(s"CREATE TABLE $table (${schema.fields.map(colDdl).mkString(", ")}) " +
        s"USING PARQUET CLUSTERED BY ($quotedCols) " +
        s"SORTED BY ($quotedCols) INTO $buckets BUCKETS")
      "created"
    } else {
      val meta = catalog.getTableMetadata(ident)
      val spec = meta.bucketSpec.getOrElse(throw new IllegalStateException(
        s"$table exists WITHOUT a bucket layout — rewrite it via writeBucketed"))
      // sort spec is part of the declared layout too: [[writeBucketed]]
      // sorts by the bucket columns and readers may rely on sorted
      // buckets for merge behavior — silent sort drift is drift
      if (spec.numBuckets != buckets || spec.bucketColumnNames != bucketCols ||
          spec.sortColumnNames != bucketCols)
        throw new IllegalStateException(
          s"$table layout is (cluster ${spec.bucketColumnNames.mkString(",")}, " +
            s"sort ${spec.sortColumnNames.mkString(",")}, into ${spec.numBuckets}) but " +
            s"(cluster+sort ${bucketCols.mkString(",")} into $buckets) was requested — " +
            "changing a bucket/sort layout invalidates the files' placement; " +
            "rewrite via writeBucketed")
      val existing = meta.schema.fields.map(f => f.name -> f.dataType).toMap
      schema.fields.foreach { f =>
        existing.get(f.name).filter(_ != f.dataType).foreach { t =>
          throw new IllegalStateException(
            s"$table.${f.name} is $t but ${f.dataType} was requested — type changes " +
              "make existing parquet unreadable; rewrite the table")
        }
      }
      val dropped = meta.schema.fieldNames.filterNot(schema.fieldNames.contains)
      if (dropped.nonEmpty)
        throw new IllegalStateException(
          s"$table has columns ${dropped.mkString(",")} absent from the requested " +
            "schema — dropping columns requires a rewrite, not DDL")
      val added = schema.fields.filterNot(f => existing.contains(f.name))
      if (added.isEmpty) "unchanged"
      else {
        spark.sql(s"ALTER TABLE $table ADD COLUMNS (${added.map(colDdl).mkString(", ")})")
        s"evolved:+${added.length}"
      }
    }
  }

  /** Run a `saveAsTable`-shaped write, recovering from the one
    * failure a managed table can inherit from a previous life: the
    * catalog entry is gone but its warehouse LOCATION survived (a
    * fresh session over a shared warehouse, or a crash between DROP
    * and CREATE), so the recreate dies with LOCATION_ALREADY_EXISTS.
    *
    * Recovery is deliberately NOT proactive. Deleting a path merely
    * because the catalog doesn't list the table can destroy live
    * data — another session mid-CREATE, an external table parked at
    * the path, or a database-qualified name whose real location is
    * `<db>.db/<table>` rather than the naively computed one. So:
    *  1. run the write — only an ACTUAL `LOCATION_ALREADY_EXISTS`
    *     failure triggers recovery (anything else propagates);
    *  2. resolve the path the CATALOG would assign via
    *     `defaultTablePath` (correct for qualified names);
    *  3. refuse if `_temporary` is present (another writer may be IN
    *     FLIGHT — the catalog only shows committed tables), and refuse
    *     unless every other entry looks like an orphaned Spark-written
    *     table (`part-*`, `_SUCCESS`, dot-files, `key=value` partition
    *     dirs) — anything else fails loudly for a human to inspect;
    *  4. delete and retry the write ONCE.
    *
    * `sweepTemporaryOlderThanMs` (r16 ADVICE) is the age-based escape
    * from rule 3's one wedge: a writer that CRASHED and will never
    * retry leaves `_temporary` forever, and the unconditional refusal
    * then needs a human to clear the location. When set, a
    * `_temporary` whose ENTIRE location has been quiet longer than
    * the threshold (newest modification time anywhere under it) is
    * treated as orphaned and swept with the rest. SIZE THE THRESHOLD
    * ABOVE THE LONGEST EXPECTED SINGLE TASK WRITE (r17 ADVICE): most
    * filesystems (HDFS included) update a file's mtime only on
    * close/hflush, so one task streaming a single large part file for
    * an hour reads as an hour of quiet — a threshold under that
    * sweeps an ACTIVE committer's pending output. mtime-quiet is a
    * per-FILE-EVENT heuristic (creates, closes, renames), not a
    * bytes-in-flight one; a safe setting is several multiples of the
    * slowest task ever observed on the cluster, and the conservative
    * deployment leaves the escape disabled. Disabled by default: age
    * is a heuristic, and the default keeps the human in the loop.
    * Operational runbook for the default: verify no Spark job is
    * writing to the printed location (cluster UI / job list), then
    * delete the location and rerun — the refusal message carries the
    * exact path. */
  def writeTableRecoveringStaleLocation(spark: org.apache.spark.sql.SparkSession,
                                        table: String,
                                        sweepTemporaryOlderThanMs: Long = Long.MaxValue)
                                       (write: => Unit): Unit = {
    def staleLoc(e: Throwable): Boolean = e != null && (
      Option(e.getMessage).exists(_.contains("LOCATION_ALREADY_EXISTS")) ||
        (e.getCause ne e) && staleLoc(e.getCause))
    try write
    catch {
      case e: Throwable if staleLoc(e) =>
        val catalog = spark.sessionState.catalog
        val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
        if (catalog.tableExists(ident)) throw e // a live table owns the path
        val loc = new org.apache.hadoop.fs.Path(catalog.defaultTablePath(ident))
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val entries = if (fs.exists(loc)) fs.listStatus(loc).toSeq else Seq.empty
        // `_temporary` is the FileOutputCommitter's in-flight marker:
        // another session may be mid-CREATE at this path right now —
        // the catalog-absence check above only sees COMMITTED tables,
        // so it cannot clear that writer. Refuse the sweep outright
        // (r15 ADVICE): deleting under an active committer destroys
        // its pending output. A genuinely orphaned `_temporary` needs
        // a human (or the other session's own retry) to resolve.
        if (entries.exists(_.getPath.getName == "_temporary")) {
          // a location quiet past the caller's threshold is treated
          // as a crashed writer's orphan — quiet = newest mtime, i.e.
          // file EVENTS (create/close/rename), so the caller's
          // threshold must exceed the longest single task write
          // (mtime does not advance while one file streams — see the
          // sizing note in the doc above)
          val newest = {
            var m = entries.map(_.getModificationTime).foldLeft(
              fs.getFileStatus(loc).getModificationTime)(math.max)
            val it = fs.listFiles(loc, true)
            while (it.hasNext) m = math.max(m, it.next().getModificationTime)
            m
          }
          val quietMs = System.currentTimeMillis() - newest
          if (quietMs <= sweepTemporaryOlderThanMs)
            throw new IllegalStateException(
              s"$table failed with LOCATION_ALREADY_EXISTS and $loc contains _temporary — " +
                "a write may be IN FLIGHT at this path; refusing to sweep. If no job is " +
                s"writing here (check the cluster UI), delete $loc and rerun, or pass " +
                "sweepTemporaryOlderThanMs to auto-sweep locations this quiet " +
                s"(quiet for ${quietMs}ms)", e)
        }
        val foreign = entries.filterNot { s =>
          val n = s.getPath.getName
          n.startsWith("part-") || n.startsWith("_") || n.startsWith(".") ||
            (s.isDirectory && n.contains("="))
        }
        if (foreign.nonEmpty) throw new IllegalStateException(
          s"$table failed with LOCATION_ALREADY_EXISTS but $loc holds entries that " +
            s"are not a Spark-written table (${foreign.map(_.getPath.getName).take(5).mkString(", ")}) " +
            "— refusing to sweep; inspect and remove manually", e)
        fs.delete(loc, true)
        write
    }
  }

  /** JDBC writer configured like the reference's batched PG loader:
    * rewriteBatchedStatements + explicit batch size. Returned
    * unexecuted (no database in this environment) — callers `.save()`. */
  def jdbcWriter(df: DataFrame, url: String, table: String,
                 batchSize: Int = 1000): DataFrameWriter[Row] =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
      .option("isolationLevel", "READ_COMMITTED")
      .mode("append")

  /** Keyed upsert merge (SCD-1): `updates` rows replace same-key rows
    * in `existing`, new keys append — the set semantics of the
    * reference's `ON CONFLICT (id) DO UPDATE` PG loader
    * (`/root/reference/services/batch_pg.py:114`), re-expressed as the
    * bulk merge a columnar lake needs (parquet files are immutable;
    * per-row upsert at 100 TB is a non-starter — you rewrite the
    * affected partitions instead).
    *
    * Shape: one left-anti join keyed on `keys` unioned with `updates`
    * verbatim. The anti-join broadcasts when the update batch is small
    * (the overwhelmingly common case: a day's corrections against a
    * corpus) and falls back to a shuffle join under AQE when it
    * isn't; the surviving `existing` rows stream through map-side.
    * Updates are REQUIRED key-unique (duplicate update keys would make
    * "replace" ambiguous); violations fail fast rather than writing a
    * nondeterministic merge. Pair with [[writeParquet]] partitioned on
    * a date column so only touched partitions rewrite. */
  def mergeUpsert(existing: DataFrame, updates: DataFrame,
                  keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "mergeUpsert needs at least one key column")
    require(existing.columns.sameElements(updates.columns),
      s"schema mismatch: ${existing.columns.mkString(",")} vs ${updates.columns.mkString(",")}")
    val dupKeys = updates.groupBy(keys.map(updates(_)): _*)
      .count().filter("count > 1").limit(1).count()
    require(dupKeys == 0L, "update batch has duplicate keys — replace is ambiguous")
    existing.join(updates.select(keys.map(updates(_)): _*), keys, "left_anti")
      .unionByName(updates)
  }

  /** Streaming parquet sink with checkpointing — exactly-once file
    * output, the streaming twin of [[writeParquet]]. Returned
    * unstarted — callers `.start()`. */
  def streamingParquetSink(df: DataFrame, path: String,
                           checkpoint: String): DataStreamWriter[Row] =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** Restore a half-completed [[swapInto]]: a crash between its two
    * renames leaves the live layer under `__old` and NO target. Any
    * caller that READS the target before swapping (the upsert merge,
    * compact) must invoke this first — otherwise the read sees an
    * empty layer, the merge degenerates to the micro-batch alone, and
    * the subsequent swap's `delete(__old)` would destroy the only
    * copy. No-op in every other state (target present, or no `__old`). */
  private[sources] def recoverHalfSwap(fs: org.apache.hadoop.fs.FileSystem,
                                       target: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(target.toString + "__old")
    if (!fs.exists(target) && fs.exists(old))
      require(fs.rename(old, target), s"half-swap recovery rename $old -> $target failed")
  }

  /** Swap a freshly-written staging directory into place. Rename the
    * live dir aside, rename staging in, then delete the old data —
    * the unrecoverable window is two metadata renames, not a full
    * recursive delete of the live copy (a crash mid-swap leaves the
    * previous data intact under `__old`, and [[recoverHalfSwap]]
    * restores it on the next run; plain delete-then-rename would have
    * already destroyed it). `__old` is only ever deleted when the
    * target exists — i.e. it is a leftover of a COMPLETED swap, never
    * the sole surviving copy. */
  private def swapInto(fs: org.apache.hadoop.fs.FileSystem,
                       staging: org.apache.hadoop.fs.Path,
                       target: org.apache.hadoop.fs.Path): Unit = {
    recoverHalfSwap(fs, target) // defense in depth — callers already ran it
    val old = new org.apache.hadoop.fs.Path(target.toString + "__old")
    fs.delete(old, true) // leftover from a prior completed-then-crashed swap
    if (fs.exists(target))
      require(fs.rename(target, old), s"rename $target -> $old failed")
    require(fs.rename(staging, target), s"rename $staging -> $target failed")
    fs.delete(old, true)
  }

  /** Materialize a [[graft.operators.Corpus.shuffleShards]]
    * assignment as the shard layout a trainer reads: one directory
    * per shard (`shard=K/`), rows inside each shard's files stored in
    * `shard_pos` order — so a reader streaming shard K front-to-back
    * consumes exactly the deterministic shuffle order, no sort at
    * read time. `repartition(N, shard)` aligns tasks with shards and
    * `sortWithinPartitions` makes the file order the read order;
    * parquet preserves row order within and across a task's files.
    * Same sizing rule as the assignment: pick numShards so a shard
    * fits a task (100 TB / 65536 ≈ 1.6 GB). */
  def writeShards(assigned: DataFrame, path: String, numShards: Int,
                  codec: String = "zstd"): Unit = {
    require(numShards >= 1)
    assigned
      .repartition(numShards, org.apache.spark.sql.functions.col("shard"))
      .sortWithinPartitions("shard", "shard_pos")
      .write.mode("overwrite")
      .option("compression", codec)
      .partitionBy("shard")
      .parquet(path)
  }

  /** Small-files compaction — the OPTIMIZE of a plain-parquet lake.
    * Streaming sinks and incremental batch appends accrete files far
    * below the ~128 MB a scan wants (every file costs a task, a
    * footer read, and an open/close — a million 100 KB files is a
    * planner DoS long before it is an IO problem). Rewrites the layer
    * to ceil(bytes / targetFileBytes) files via the same atomic
    * staging-swap as [[streamingUpsertSink]].
    *
    * Round-robin repartition deliberately: it produces evenly-sized
    * files from ANY input skew. It also discards sort clustering —
    * relayout-with-clustering is [[graft.operators.Layout.zOrdered]]
    * + [[writeParquet]], not this. Returns the new file count. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetFileBytes >= 1)
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverHalfSwap(fs, target) // a prior crashed swap must not read as an empty layer
    val bytes = fs.getContentSummary(target).getLength
    val numFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val staging = new org.apache.hadoop.fs.Path(path + "__compacting")
    spark.read.parquet(path).repartition(numFiles)
      .write.mode("overwrite").option("compression", "zstd").parquet(staging.toString)
    swapInto(fs, staging, target)
    numFiles
  }

  /** The retry window of every guard sink's [[retryAcrossTableSwap]]. */
  private val GuardSwapBudgetMs = 10000L

  /** Run a guard trigger's body, healing the one benign race a
    * concurrent maintenance job can cause (self-review r16): the
    * bucketed-index compaction and the chunk recap swap tables via
    * DROP + RENAME — two metadata ops — so a trigger landing inside
    * that window (or holding a file listing taken just before the
    * swap) fails with TABLE_OR_VIEW_NOT_FOUND / FAILED_READ_FILE and
    * would otherwise TERMINATE the streaming query over a transient
    * state — and, WORSE, can fail SILENTLY: a body that resolved the
    * table before the DROP but listed its files after the deletion
    * reads an EMPTY corpus with no exception at all, minting a false
    * definitely-new on the exact arm or silently dropping candidate
    * pairs on the inner-join arms (caught live by the r17 race
    * spec). So the defense is two-sided:
    *
    *  - LOUD failures with the narrow swap signature
    *    ([[swapRaceSignature]] — it must NAME a watched table, r16
    *    ADVICE) heal (promote a half-completed swap, refresh
    *    relation caches) and retry with backoff.
    *  - SILENT races are caught by a consistency bracket: the
    *    watched tables' file-set signatures are captured before and
    *    after the body (refreshed, metadata-only); any difference
    *    means a swap or append overlapped the trigger, and the body
    *    re-runs — the accepted verdict is always computed inside a
    *    STABLE bracket, i.e. against one consistent table state.
    *
    * Both loops share a TIME BUDGET rather than an attempt count
    * (r16 ADVICE): a swap race is transient BY CONSTRUCTION —
    * maintenance completes its two metadata ops in bounded time — so
    * against a LIVE maintenance loop (where a retry can land inside
    * the NEXT window) retrying for up to `budgetMs` absorbs any
    * realistic churn, while a genuinely lost table (which keeps
    * producing the same signature) still surfaces its real error
    * after ~10 s of cheap attempts — well under any stream restart
    * policy's horizon. The budget is armed at the FIRST detected
    * race or instability, never at body start (r17 self-review: a
    * start-anchored deadline was consumed by long bodies — the
    * accept-preview's whole decision chain — leaving zero re-runs),
    * so every trigger gets the full retry window regardless of how
    * long its body runs; a long body under persistent churn gets at
    * least one full re-run before the budget can expire.
    *
    * The deadline RE-ARMS when the instability reaches a table not
    * yet seen unstable (r17 ADVICE, medium): a daily ingest is a
    * SEQUENCE of appends (postings, then hash, then chunk, then
    * semantic) each individually short — treating the series as ONE
    * continuous disturbance would exhaust the budget on long ingests
    * and kill the query over churn that is transient table-by-table.
    * Re-arming is bounded: each watched table extends the deadline at
    * most ONCE, so total retrying is capped at (|tables| + 1) ×
    * budgetMs, and a single table churning forever (a lost table, a
    * rewrite storm) still exhausts within one budget. Budget
    * exhaustion throws rather than accepting an unverified verdict —
    * loud beats a silent duplicate leak — with the last race error
    * attached when one was caught. The heal is best-effort: two
    * concurrent guards can race each other's promotion
    * (recoverTableSwap's RENAME throws for the loser) — a lost heal
    * race means someone else healed, so the retry proceeds
    * regardless.
    *
    * The bracket OWNS refresh and listing: `body` receives the
    * `before` listing (watched table -> its sorted file set, or
    * `absent`), taken right after refreshing each table's relation
    * cache. The body needs no refresh of its own, and whatever it
    * derives from a table's contents keys on that listing
    * ([[graft.InputMemo]]) — a change after the listing reads as an
    * unstable bracket and re-runs the body against the new one.
    * Bodies re-run whole; every guard writes its batch directory
    * idempotently, so a re-run converges. */
  private[graft] def retryAcrossTableSwap(spark: SparkSession,
                                   tables: Seq[String],
                                   budgetMs: Long = GuardSwapBudgetMs)(
                                   body: Map[String, String] => Unit): Unit = {
    // the budget bounds the RETRY phase, armed at the FIRST detected
    // race/instability — never the first body run itself (r17
    // self-review: a fixed start-anchored deadline was consumed by
    // long bodies like the accept-preview's decision chain, leaving
    // ZERO re-runs and killing the query on the first benign overlap)
    var deadline = 0L
    var seenUnstable = Set.empty[String]
    var lastRace: Throwable = null
    // arm (or re-arm) on the tables THIS disturbance touched: a table
    // joining the churn for the first time resets the window, a table
    // already counted does not (r17 ADVICE, medium — a sequential
    // ingest's appends read as a series of short disturbances, never
    // one unbounded one; the re-arm count is capped by |tables|)
    def armBudget(unstable: Set[String]): Unit = {
      if (deadline == 0L || (unstable -- seenUnstable).nonEmpty)
        deadline = System.nanoTime() + budgetMs * 1000000L
      seenUnstable ++= unstable
    }
    // the retry's listSig refreshes the relation caches after a heal
    def heal(): Unit = tables.foreach { t =>
      try recoverTableSwap(spark, t)
      catch { case _: Exception => () } // lost a heal race — retry decides
    }
    def listSig(): Map[String, String] = tables.map(t =>
      t -> graft.InputMemo.tableFiles(spark, t).fold("absent")(_.mkString(","))).toMap
    def attempt(delayMs: Long): Unit = {
      val unstable: Set[String] =
        try {
          val before = listSig()
          body(before)
          val after = listSig()
          tables.filter(t => before.get(t) != after.get(t)).toSet
        } catch {
          case e: Exception if swapRaceSignature(tables, e) =>
            lastRace = e
            heal()
            // non-empty by construction: the guard above matched, and
            // racedTables applies the identical per-table traversal
            // to the same throwable chain
            racedTables(tables, e)
        }
      if (unstable.nonEmpty) {
        armBudget(unstable)
        if (System.nanoTime() >= deadline)
          throw new IllegalStateException(
            s"guard trigger could not complete against a stable state of " +
              s"${tables.mkString(",")} within ${budgetMs}ms of retrying " +
              s"(last unstable: ${unstable.mkString(",")}) — " +
              (if (lastRace != null)
                "the last attempt failed with the attached maintenance-race error"
              else
                "the watched tables kept changing between attempts; refusing to " +
                  "accept a verdict computed across an unstable table state"),
            lastRace)
        Thread.sleep(delayMs)
        attempt(math.min(delayMs * 2, 1000L))
      }
    }
    attempt(50L)
  }

  /** Does this failure look like a maintenance table swap on one of
    * the WATCHED tables — and only those? The three signatures a
    * DROP+RENAME window (or its file deletions racing a pre-swap
    * listing) produces, each required to NAME a watched table: by
    * table name (TABLE_OR_VIEW_NOT_FOUND), or by a path containing it
    * (FAILED_READ_FILE / FileNotFoundException on the table's
    * warehouse directory). A deleted checkpoint, a vanished source
    * file, or any other permanent failure does NOT match (r16
    * ADVICE) — it propagates instead of masking its root cause under
    * a heal + re-execution. Db-qualified names watch their last
    * component: messages carry `db`.`tbl`, bare tbl, or a
    * /warehouse/db.db/tbl path — all contain the unqualified name.
    *
    * The name must appear as a WHOLE identifier or path component
    * (r17 ADVICE): bounded by a path separator, backtick, quote,
    * bracket or whitespace — never as a substring of a longer name.
    * The boundary classes deliberately EXCLUDE `-` and `.` (and
    * identifier chars), so a checkpoint directory `graft_idx_chk`
    * or `graft_idx-chk`, a sibling file `graft_idx.bak`, or a table
    * `graft_idx_old` failing permanently never reads as a swap race
    * on `graft_idx` and gets healed+retried, masking a real
    * checkpoint/source loss. The three real signature shapes stay
    * matched: Spark backticks identifiers in TABLE_OR_VIEW_NOT_FOUND,
    * and both file signatures carry the name between `/` separators
    * of the warehouse path. */
  private[graft] def swapRaceSignature(tables: Seq[String], e: Throwable): Boolean = {
    val names = tables.map { t =>
      ("(^|[\\s/`'\"(\\[,=])" + java.util.regex.Pattern.quote(t.split('.').last) +
        "([\\s/`'\")\\],:;]|$)").r
    }
    def matches(t: Throwable): Boolean = t != null && (
      Option(t.getMessage).exists(m =>
        (m.contains("TABLE_OR_VIEW_NOT_FOUND") || m.contains("FAILED_READ_FILE") ||
          m.contains("FileNotFoundException")) &&
          names.exists(_.findFirstIn(m).isDefined)) ||
        ((t.getCause ne t) && matches(t.getCause)))
    matches(e)
  }

  /** Which of the watched tables a swap-race error NAMES — the
    * re-arm key for [[retryAcrossTableSwap]]'s budget: churn moving
    * to a table not yet seen unstable reads as a NEW disturbance. */
  private def racedTables(tables: Seq[String], e: Throwable): Set[String] =
    tables.filter(t => swapRaceSignature(Seq(t), e)).toSet

  /** A bloom probe as the dedup arms take it; `None` = no bloom kept. */
  private type BloomProbe = Option[Column => Column]

  /** `table`'s bloom probe, rebuilt only when its `__bloom` table's
    * file set changed. */
  private def memoProbe(probes: graft.InputMemo[BloomProbe], spark: SparkSession,
                        listing: Map[String, String], table: String): BloomProbe =
    probes(spark, table + "__bloom", listing)(graft.operators.Dedup.bloomProbeFor(spark, table))

  /** The one body of every streaming guard sink: per micro-batch,
    * inside [[retryAcrossTableSwap]] over the `watched` tables, run
    * the guard's `arm` — the BATCH operator `runIncremental` calls,
    * extracted rather than replicated, so the stream and the daily
    * ingest can never disagree on a verdict — and overwrite
    * `path/batch_id=N/` with its rows. The rules every guard shares:
    *
    *  - FRESH PER TRIGGER. The arm re-reads its index tables each
    *    trigger, which is why a guard is a foreachBatch sink and not a
    *    stream-static transform: a transform would bake the index and
    *    its bloom into the unbounded plan once, and a verdict from that
    *    stale snapshot leaks every duplicate the corpus gained since
    *    the stream started. The micro-batch runs on the stream's
    *    CLONED session, whose relation cache can still hold the
    *    previous trigger's file listing (an OVERWRITTEN bloom then
    *    fails with FAILED_READ_FILE, an APPENDED index silently misses
    *    its newest rows); the bracket refreshes each watched table
    *    before listing it, so the clone reads what maintenance wrote.
    *  - BLOOM ⊇ TABLE. The daily ingest merges a day's keys into each
    *    bloom BEFORE appending them to the table (r15 ADVICE), so a
    *    trigger landing mid-ingest can see extra maybes — anti-join
    *    work on the exact arm, fpp extra rows on the inner-join arms —
    *    but never a table key the bloom lacks, which would mint a false
    *    definitely-new (exact) or drop a true candidate (inner joins).
    *  - SWAPS. A maintenance DROP + RENAME (index compaction, chunk
    *    recap, PQ retrain) overlapping a trigger heals and re-runs the
    *    arm, neither terminating the query nor certifying a verdict
    *    read across two table states ([[retryAcrossTableSwap]], with
    *    [[GuardSwapBudgetMs]]).
    *  - PROBES MEMOIZED PER FILE SET. A bloom changes at most once per
    *    daily ingest while triggers can be seconds apart; rebuilding a
    *    probe per trigger would collect every filter byte off the
    *    executors and (sharded form) re-broadcast gigabytes for an
    *    unchanged filter. The text guards and the accept-preview hold
    *    an [[graft.InputMemo]] with one entry per memoized table, keyed
    *    on the session, the table and the bracket's listing of it —
    *    the sorted (path, size, mtime) of its files, so an overwrite
    *    under old names changes it too — and no second listing is
    *    taken. A probe rebuilds exactly when its bloom's files change;
    *    the superseded entry is the least recently used one, evicted
    *    at that put, and its broadcast is reclaimed by the
    *    ContextCleaner, one per maintenance event.
    *  - IDEMPOTENT, READ-ONLY. `batch_id=N/` is overwritten, so an
    *    at-least-once replay rewrites the same directory — against a
    *    possibly grown corpus: fewer rows, never appended duplicates —
    *    the directory-grain idempotence of [[backfillParquet]]. Guards
    *    never write the corpus: indexing accepted docs stays
    *    `runIncremental`'s job with its crash manifest.
    *
    * `watched` is evaluated per trigger, so a table that is read only
    * when present (a split layout's `__sigs`) joins the set when it
    * exists. Returned unstarted — callers `.start()`. */
  private def guardSink(stream: DataFrame, path: String, checkpoint: String)(
      watched: SparkSession => Seq[String])(
      arm: (DataFrame, Map[String, String]) => DataFrame): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        retryAcrossTableSwap(batch.sparkSession, watched(batch.sparkSession)) { listing =>
          arm(batch, listing).write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(s"$path/batch_id=$id")
        }
      }

  /** Streaming EXACT-dup guard against the standing corpus — the
    * stream face of `graft.Pipeline.exactNewVsCorpus`'s union-bypass
    * (the in-stream dedup is [[graft.streaming.Streams.dedupStream]]'s
    * job; this answers "does the corpus already have it" at ingest).
    * Watches the hash table and its bloom. Novel rows land under
    * `path/batch_id=N/`. Input must carry the `content` column the
    * batch arm hashes. Shared rules: [[guardSink]]. */
  def streamingCorpusGuardSink(stream: DataFrame, hashTable: String,
                               path: String, checkpoint: String): DataStreamWriter[Row] = {
    val probes = new graft.InputMemo[BloomProbe](cap = 1)
    guardSink(stream, path, checkpoint)(_ => Seq(hashTable, hashTable + "__bloom")) {
      (batch, listing) =>
        graft.Pipeline.exactNewVsCorpus(batch.sparkSession, batch, hashTable,
          probeOverride = Some(memoProbe(probes, batch.sparkSession, listing, hashTable)))
    }
  }

  /** Streaming NEAR-dup guard against the standing corpus: per
    * micro-batch `graft.operators.Dedup.incrementalMinhashCandidates`
    * — the function `runIncremental`'s near-dup probe calls — against
    * the bucketed band-postings index, with the same band-key bloom
    * prefilter (corpus × delta side only; the in-batch self-join sees
    * every row). Watches the postings table, its bloom and, in the
    * split layout, its forward `__sigs` table. Candidate pairs
    * (doc_id_1, doc_id_2, est_jaccard — batch doc ids paired with
    * corpus ids or with each other) land under `path/batch_id=N/`.
    * Input must carry `doc_id` and `text` (the banding functions'
    * input contract). Shared rules: [[guardSink]]. */
  def streamingNearDupGuardSink(stream: DataFrame, postingsTable: String,
                                path: String, checkpoint: String,
                                threshold: Double = 0.5,
                                bands: Int = 16, rowsPerBand: Int = 4): DataStreamWriter[Row] = {
    val probes = new graft.InputMemo[BloomProbe](cap = 1)
    guardSink(stream, path, checkpoint)(spark =>
        Seq(postingsTable, postingsTable + "__bloom") ++
          Seq(postingsTable + "__sigs").filter(spark.catalog.tableExists)) {
      (batch, listing) =>
        val spark = batch.sparkSession
        val (postDf, sigsOpt) = graft.operators.Dedup.postingsFrames(spark, postingsTable)
        graft.operators.Dedup.incrementalMinhashCandidates(
          batch, postDf, threshold, bands, rowsPerBand,
          bandPrefilter = memoProbe(probes, spark, listing, postingsTable), sigs = sigsOpt)
    }
  }

  /** Streaming SUBSTRING guard against the standing corpus: per
    * micro-batch `graft.operators.Dedup.incrementalSubstringMatches`
    * — the CDC chunk probe `runIncremental` calls — with the
    * chunk-bloom prefilter (sound on this inner join exactly as in the
    * daily arm: a pruned chunk cannot match, and an over-approximating
    * bloom after a df-cap recap just finds no postings). Watches the
    * chunk table and its bloom. `minSharedTokens` defaults to the
    * daily arm's destructive bar (64). Match rows (delta_doc,
    * corpus_doc, shared_chunks, shared_tokens) land under
    * `path/batch_id=N/`. Input must carry `doc_id` and `text`.
    * Shared rules: [[guardSink]]. */
  def streamingSubstringGuardSink(stream: DataFrame, chunkTable: String,
                                  path: String, checkpoint: String,
                                  minSharedTokens: Long = 64L): DataStreamWriter[Row] = {
    val probes = new graft.InputMemo[BloomProbe](cap = 1)
    guardSink(stream, path, checkpoint)(_ => Seq(chunkTable, chunkTable + "__bloom")) {
      (batch, listing) =>
        graft.operators.Dedup.incrementalSubstringMatches(
          batch, batch.sparkSession.table(chunkTable), minSharedTokens,
          bloomProbe = memoProbe(probes, batch.sparkSession, listing, chunkTable))
    }
  }

  /** The four tables of a semantic index: cell index, centroids, PQ
    * codes, codebooks. */
  private def semanticIndexTables(t: String): Seq[String] =
    Seq(t, t + "__centroids", t + "__pq", t + "__pq__codebooks")

  /** Streaming SEMANTIC guard against the STANDING corpus — the
    * paraphrase arm's continuous face, completing the guard family
    * (exact 40g, near-dup 40h, substring 40i): "is this doc's
    * EMBEDDING a near-duplicate of an indexed doc's" at stream
    * latency — the verdict both text guards are structurally blind
    * to. Each micro-batch runs `graft.Pipeline.semanticCorpusHits`,
    * the ONE definition `runIncremental`'s daily semantic arm calls:
    * two-tier when the PQ twin exists (certified-bound candidates
    * from the code index, exact cosine confirm on just the touched
    * cells), one-tier exact cell probe otherwise, including the
    * qerrs/tight dispatch and the degraded-tier downgrade — a crash
    * that lost the PQ table downgrades the stream's probe the same
    * way it downgrades the daily run's, never to wrong answers.
    *
    * All four index tables (cell index, centroids, PQ codes,
    * codebooks) re-read fresh per trigger: the daily ingest appends
    * accepted vectors and the drift tripwire can RETRAIN codebooks +
    * re-encode — a baked snapshot would probe new vectors against
    * codebooks that no longer encode the index. Centroids/codebooks
    * are broadcast-scale tables, so per-trigger re-reads cost
    * metadata + a small broadcast, not a corpus pass; the
    * candidate-cell collect is bounded by the quantizer's k per
    * trigger. The PQ retrain rewrites tables mid-flight, so all four
    * are watched.
    *
    * Per-trigger cost, measured (r16 VERDICT #6): the bench's
    * steady-state `semantic_probe_pq_daily` — the LITERAL probe this
    * sink runs per trigger, day-sized delta against the sf0.1 index —
    * is ~0.25 s, of which the centroid/codebook re-read + broadcast
    * rebuild is the fixed sub-100 ms slice; the probe's own join
    * dominates. A per-file-set probe memo (as the three text guards
    * keep) would save only that fixed slice while adding the cache's
    * staleness surface across PQ retrains — the one maintenance event
    * that MUST invalidate it — so it deliberately does not exist
    * until a deployment needs sub-100 ms triggers.
    *
    * Input must carry `doc_id` and `embedding` (the daily arm's
    * delta-vector contract — the embedder runs at the stream edge).
    * DISTINCT hit pairs (delta_doc, corpus_doc) land under
    * `path/batch_id=N/`. Shared rules: [[guardSink]]. */
  def streamingSemanticGuardSink(stream: DataFrame, semanticTable: String,
                                 path: String, checkpoint: String,
                                 threshold: Double = 0.35): DataStreamWriter[Row] =
    guardSink(stream, path, checkpoint)(_ => semanticIndexTables(semanticTable)) {
      (batch, _) =>
        graft.Pipeline.semanticCorpusHits(batch.sparkSession, batch, semanticTable, threshold)
    }

  /** Streaming ACCEPT-PREVIEW — the composition of the whole guard
    * family into the ONE question an ingest operator actually asks:
    * "would `runIncremental` accept this doc today?" Each micro-batch
    * runs [[graft.Pipeline.decideDelta]] — the LITERAL decision chain
    * the daily run executes (extracted, not replicated): silver
    * clean → rule quality → optional corpus-charlm gate → id
    * collision → exact within/vs-corpus (bloom union-bypass) →
    * near-dup vs corpus + within-batch clusters → optional substring
    * and semantic arms → optional holdout decontamination — and
    * lands the per-doc attribution (`accepted` or the first gate
    * that dropped it: `low_quality`, `charlm_dropped`,
    * `id_collision`, `exact_dup_within`, `exact_dup_corpus`,
    * `near_dup_corpus`, `substring_dup_corpus`,
    * `semantic_dup_corpus`, `near_dup_within`, `contaminated`) under
    * `path/batch_id=N/`, overwritten per batch. READ-ONLY: no
    * output is written to the corpus, no index grows, no bloom
    * merges — preview verdicts against today's standing corpus, at
    * stream latency, with one definition shared with the batch path
    * so they can never disagree.
    *
    * Within-batch semantics are per-TRIGGER: `exact_dup_within` /
    * `near_dup_within` compare docs inside one micro-batch, exactly
    * as the daily run compares docs inside one delta — a preview
    * trigger IS a candidate delta, not a rolling window.
    *
    * The four bloom probes and the collected charlm model are
    * memoized per file set; the rest of the shared rules are
    * [[guardSink]]'s. Input must carry the raw
    * documents columns (`doc_id`, `text`, `lang`, `source`, ...);
    * when `semanticTable` is set and the stream carries an
    * `embedding` column, the semantic arm probes with it (the
    * embedder runs at the stream edge, as in the daily run). */
  def streamingAcceptPreviewSink(stream: DataFrame,
                                 postingsTable: String, hashTable: String,
                                 path: String, checkpoint: String,
                                 holdout: Option[DataFrame] = None,
                                 chunkTable: Option[String] = None,
                                 semanticTable: Option[String] = None,
                                 charlmTable: Option[String] = None,
                                 charlmRareFracMax: Option[Double] = None,
                                 charlmRareBelow: Double = 0.001): DataStreamWriter[Row] = {
    val bloomed = Seq(postingsTable, hashTable) ++ chunkTable
    // the doc-id key space (a VIEW over the postings table + its own
    // bloom — operators.Dedup.writeIdsBloom): probe-memoized like the
    // other three, watched by its BLOOM only (the view's file set IS
    // the postings table's, already watched)
    val idsSpace = graft.operators.Dedup.idsSpaceOf(postingsTable)
    // watch ONLY the tables this trigger's decision will read
    // (mirrors decideDelta's own arm gating, r17 self-review): an
    // embedding-less stream never touches the semantic tables, so a
    // concurrent PQ retrain must not read as instability; the charlm
    // model table is read only when the gate is armed
    val semantic = semanticTable.filter(_ => stream.columns.contains("embedding"))
    val charlm = charlmTable.filter(_ => charlmRareFracMax.isDefined)
    val probes = new graft.InputMemo[BloomProbe](cap = bloomed.size + 1)
    // the collected charlm model, so a micro-batch pays only the
    // map-side scoring, not the table aggregate + collect; None inside
    // = model over the row cap -> decideDelta's join-path fallback
    val charlmModels = new graft.InputMemo[Option[Array[Byte]]](cap = 1)
    guardSink(stream, path, checkpoint)(spark =>
        bloomed.flatMap(t => Seq(t, t + "__bloom")) ++ Seq(idsSpace + "__bloom") ++
          Seq(postingsTable + "__sigs").filter(spark.catalog.tableExists) ++
          semantic.toSeq.flatMap(semanticIndexTables) ++ charlm) {
      (batch, listing) =>
        val spark = batch.sparkSession
        graft.Pipeline.decideDelta(spark, batch, postingsTable, hashTable,
            holdout, chunkTable, semanticTable,
            semantic.map(_ => batch.select(col("doc_id"), col("embedding"))),
            charlmTable, charlmRareFracMax, charlmRareBelow,
            probeOverrides = (bloomed :+ idsSpace)
              .map(t => t -> memoProbe(probes, spark, listing, t)).toMap,
            charlmModelOverride = charlm.map(t => charlmModels(spark, t, listing)(
              graft.operators.TextOps.charlmCollectModel(
                spark.table(t).groupBy(col("tri")).agg(sum(col("n")).as("c3"))))))
          .verdicts
    }
  }

  /** Streaming GROUP-replace upsert — the snapshot-table sink for
    * streams that re-emit a whole row SET per key each trigger
    * (e.g. [[graft.streaming.Streams.heavyHittersStream]]'s k
    * refreshed sketch rows per source): every micro-batch replaces
    * the persisted rows of each group it touches wholesale and
    * leaves untouched groups' rows in place, so the layer always
    * holds exactly one — the latest — row set per group and
    * survives restarts like any checkpointed sink.
    *
    * [[streamingUpsertSink]] cannot express this: its per-KEY merge
    * keeps one row per key, but a snapshot group is many rows whose
    * MEMBERSHIP changes between triggers (a term dropping out of a
    * sketch must drop out of the table — a keyed upsert would leave
    * the stale row behind).
    *
    * `versionCol` (when set) resolves multiple versions of one group
    * INSIDE a batch — at-least-once replay can coalesce two triggers
    * into one micro-batch; only each group's max-version rows land.
    * Replay-safe the same way as the keyed sink: re-applying a batch
    * replaces the same groups with the same rows. Scale shape: the
    * rewrite touches the snapshot layer (groups × k rows — sketch-
    * bounded, never corpus-bounded) plus one atomic staging swap. */
  def streamingGroupReplaceSink(stream: DataFrame, path: String, checkpoint: String,
                                groupKeys: Seq[String],
                                versionCol: Option[String] = None): DataStreamWriter[Row] = {
    require(groupKeys.nonEmpty, "streamingGroupReplaceSink needs at least one group column")
    snapshotSink(stream, path, checkpoint, groupKeys, "streamingGroupReplaceSink") { batch =>
      versionCol.fold(batch) { v =>
        batch.withColumn("__maxv",
            max(col(v)).over(Window.partitionBy(groupKeys.map(col): _*)))
          .filter(col(v) === col("__maxv"))
          .drop("__maxv")
      }
    }
  }

  /** Streaming keyed upsert into a parquet layer — the reference's
    * continuous `ON CONFLICT DO UPDATE` consumer re-expressed for
    * immutable files: each micro-batch runs the [[mergeUpsert]] merge
    * against the current layer — the [[streamingGroupReplaceSink]]
    * body with one-row groups — and atomically swaps the result in.
    *
    * Replay-safe where at-least-once delivery needs it: re-merging an
    * already-applied batch replaces the same keys with the same rows,
    * so foreachBatch re-execution after a crash converges to the same
    * layer. In-batch duplicate keys are resolved keep-one BEFORE the
    * merge (`dropDuplicates` — last-writer-wins needs an explicit
    * version column upstream, same as any upsert bus).
    *
    * The full-layer rewrite per batch is the no-table-format ceiling:
    * with a transactional format the same [[mergeUpsert]] plan becomes
    * a partition-scoped MERGE. Returned unstarted — callers
    * `.start()`. */
  def streamingUpsertSink(stream: DataFrame, path: String, checkpoint: String,
                          keys: Seq[String]): DataStreamWriter[Row] = {
    require(keys.nonEmpty, "streamingUpsertSink needs at least one key column")
    snapshotSink(stream, path, checkpoint, keys, "streamingUpsertSink")(_.dropDuplicates(keys))
  }

  /** The one body of both snapshot sinks: per micro-batch, `rows`
    * picks the batch's rows to land, every persisted row whose `keys`
    * the batch touches is replaced by them, and the result swaps in
    * atomically (write to a staging dir, then rename — never overwrite
    * the directory being read, which would race the lazy scan of the
    * existing layer). */
  private def snapshotSink(stream: DataFrame, path: String, checkpoint: String,
                           keys: Seq[String], sink: String)(
                           rows: DataFrame => DataFrame): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val target = new org.apache.hadoop.fs.Path(path)
        val staging = new org.apache.hadoop.fs.Path(path + "__staging")
        val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // MUST precede the exists/read below: after a crash between
        // swapInto's renames the layer lives under __old, and merging
        // against a missing target would lose it (ADVICE r8, medium).
        recoverHalfSwap(fs, target)
        val latest = rows(batch)
        val merged =
          if (fs.exists(target))
            readSnapshotValidated(spark, path, batch.schema, sink)
              .join(latest.select(keys.map(col): _*).distinct(), keys, "left_anti")
              .unionByName(latest)
          else latest
        merged.write.mode("overwrite").parquet(staging.toString)
        swapInto(fs, staging, target)
      }

  /** Read a snapshot layer for a merge, FAILING LOUDLY on schema
    * drift instead of force-pinning the stream's schema over it.
    * `spark.read.schema(expected)` would silently null-fill columns
    * the persisted rows predate (e.g. a later-added version/trigger
    * column — the latest-wins max then misreads null-version legacy
    * rows) and silently drop columns the stream no longer carries.
    * Schema evolution of a snapshot is a MIGRATION (rewrite the layer
    * with the new column backfilled, or start a fresh path +
    * checkpoint), mirroring the explicit state-schema-migration note
    * on [[graft.streaming.Streams.heavyHittersStream]]. Nullability
    * is ignored (parquet round-trips relax it); names + types must
    * match exactly. */
  private def readSnapshotValidated(spark: org.apache.spark.sql.SparkSession,
                                    path: String,
                                    expected: org.apache.spark.sql.types.StructType,
                                    sink: String): DataFrame = {
    val disk = spark.read.parquet(path).schema
      .fields.map(f => f.name -> f.dataType.sql).toMap
    val want = expected.fields.map(f => f.name -> f.dataType.sql).toMap
    val missing = (want.keySet -- disk.keySet).toSeq.sorted
    val extra = (disk.keySet -- want.keySet).toSeq.sorted
    val retyped = want.keySet.intersect(disk.keySet)
      .filter(k => want(k) != disk(k)).toSeq.sorted
    if (missing.nonEmpty || extra.nonEmpty || retyped.nonEmpty)
      throw new IllegalStateException(
        s"$sink: persisted snapshot at $path does not match the stream's schema — " +
          (if (missing.nonEmpty) s"snapshot lacks [${missing.mkString(", ")}]; " else "") +
          (if (extra.nonEmpty) s"snapshot has dropped-from-stream [${extra.mkString(", ")}]; " else "") +
          (if (retyped.nonEmpty)
            retyped.map(k => s"$k is ${disk(k)} on disk vs ${want(k)} in the stream").mkString("", "; ", "; ")
          else "") +
          "schema evolution of a snapshot layer is a migration: rewrite the layer " +
          "with the change backfilled (or start a fresh path + checkpoint), " +
          "don't let a forced read schema null-fill or drop it silently")
    spark.read.schema(expected).parquet(path)
  }
}
