package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The one memo of state derived from an input. Each owner (an
  * operator, a guard sink) holds its own instance, and an entry is
  * keyed on the session, the owner's `op` (its parameters) and a
  * FINGERPRINT of the input — what the data is, never a name the
  * caller promises:
  *
  *  - plan identity: each input's analyzed plan must be `sameResult`
  *    to the stored one (Spark's CacheManager rule): two reads of one
  *    path match, `t` and `t.filter(...)` do not;
  *  - file identity: [[InputMemo.files]] of each input, so a file
  *    rewritten in place under its old name misses.
  *
  * An input with a leaf that is not a file scan (a local relation, a
  * checkpoint) or with a nondeterministic expression has no
  * fingerprint and builds on every call.
  *
  * A hit is also checked against the value: every frame `alive`
  * names must still read (checkpointed blocks die with a lost
  * executor), and every `owned` table must still exist and still hold
  * every file it held when the build finished (another writer's
  * rewrite drops them). A failed check rebuilds. An entry is put only
  * after its build returns, so a build that throws leaves nothing to
  * hit and the next call builds again.
  *
  * Bounded retention: at most `cap` entries, the least recently used
  * evicted first, and a stopped session's entries are swept at every
  * put. Builds run outside the lock: two racing callers may both
  * build, and the values are equal. */
private[graft] final class InputMemo[V](cap: Int) {
  private final class Entry(val spark: SparkSession, val op: Any,
      val plans: Seq[LogicalPlan], val files: Seq[String],
      val owned: Map[String, Set[String]], val value: V)
  private var entries = Vector.empty[Entry]

  /** `build`'s value for `inputs` under `op`, built only on a miss. */
  def apply(op: Any, inputs: Seq[DataFrame], owned: Seq[String] = Nil)(
      alive: V => Seq[DataFrame])(build: => V): V = {
    val plans = inputs.map(_.queryExecution.analyzed)
    val files = plans.map(p => InputMemo.files(p).filter(_ => p.deterministic))
    if (files.exists(_.isEmpty)) build
    else lookup(inputs.head.sparkSession, op, plans, files.map(_.get.mkString(",")),
      owned, alive)(build)
  }

  /** The guard sinks' form: the input is one watched table, and its
    * fingerprint is the swap bracket's listing of it, already taken. */
  def apply(spark: SparkSession, table: String, listing: Map[String, String])(build: => V): V =
    lookup(spark, table, Nil, Seq(listing(table)), Nil, (_: V) => Nil)(build)

  /** How many entries the memo holds. */
  def size: Int = synchronized(entries.size)

  private def lookup(spark: SparkSession, op: Any, plans: Seq[LogicalPlan],
                     files: Seq[String], owned: Seq[String],
                     alive: V => Seq[DataFrame])(build: => V): V = {
    val found = synchronized(entries.find(e => (e.spark eq spark) && e.op == op &&
      e.files == files && e.plans.corresponds(plans)(_ sameResult _)))
    found.filter(e => valid(e, alive)) match {
      case Some(e) =>
        synchronized(if (entries.contains(e)) entries = entries.filterNot(_ eq e) :+ e)
        e.value
      case None =>
        val v = build
        val stamp = owned.flatMap(t => InputMemo.tableFiles(spark, t).map(t -> _.toSet)).toMap
        synchronized {
          entries = (entries.filterNot(e => found.contains(e) || e.spark.sparkContext.isStopped) :+
            new Entry(spark, op, plans, files, stamp, v)).takeRight(cap)
        }
        v
    }
  }

  private def valid(e: Entry, alive: V => Seq[DataFrame]): Boolean =
    alive(e.value).forall(f =>
      try { f.take(1); true } catch { case scala.util.control.NonFatal(_) => false }) &&
      e.owned.forall { case (t, built) =>
        InputMemo.tableFiles(e.spark, t).exists(now => built.subsetOf(now.toSet))
      }
}

private[graft] object InputMemo {
  /** The sorted `path size mtime` of every file `plan`'s relations
    * scan, read from their file indexes' listings (driver-side, no
    * Spark job); `None` when any leaf is not a file scan. The one
    * answer to "did this input's files change": the memo's key, its
    * owned-table check and the guard bracket's listing all use it. */
  def files(plan: LogicalPlan): Option[Seq[String]] = {
    val leaves = plan.collectWithSubqueries { case l: LeafNode => l }
    val scans = leaves.collect { case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r }
    if (scans.size != leaves.size) None
    else Some(scans.flatMap(_.location.listFiles(Nil, Nil)).flatMap(_.files)
      .map(f => s"${f.getPath} ${f.fileStatus.getLen} ${f.fileStatus.getModificationTime}")
      .sorted)
  }

  /** [[files]] of catalog table `table`, its relation cache refreshed
    * first so the listing is current; `None` when the table is absent. */
  def tableFiles(spark: SparkSession, table: String): Option[Seq[String]] =
    if (!spark.catalog.tableExists(table)) None
    else {
      spark.catalog.refreshTable(table)
      files(spark.table(table).queryExecution.analyzed)
    }
}
