package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Atomic directory replacement for persisted artifacts (compacted
  * shard dirs, drift count stores, bloom sketches, index sidecars and
  * hot-hash tables) — the one place the protocol lives. A caller states
  * what to write through [[replace]]; when the target already exists
  * the writer produces a complete TWIN directory `<target>__compact`
  * beside it, which the swap then makes the target using RENAMES ONLY —
  *
  *   1. rename target  → `<target>__old`   (atomic)
  *   2. rename twin    → target            (atomic)
  *   3. delete `<target>__old`             (garbage by then)
  *
  * A crash at any point leaves at least one COMPLETE copy of the data
  * under a known name, so [[recover]] can always restore the store
  * (ADVICE r14: the previous delete-then-rename protocol had a window
  * where a crash mid-recursive-delete left a partial target that
  * recovery preferred over the complete twin — rename is atomic on
  * local/HDFS semantics, recursive delete is not). The only step that
  * can leave partial state is the delete of `__old`, and `__old` is
  * never the preferred copy when the target exists.
  *
  * An ABSENT target is written directly, never through a twin: a
  * first-write twin has no complete old copy to protect, and the
  * twin-alone rule below would promote it even if it died partial (r15
  * review finding). Parquet's commit keeps a crashed direct write
  * invisible — the target then holds no committed data file, which
  * readers that must tell such debris from a store check with
  * [[hasData]].
  *
  * [[recover]] is idempotent — run it before reading a store that uses
  * this protocol ([[replace]] runs it before every write):
  *
  *   - `__old` present, target present   → crash mid-step-3 (the swap
  *     completed; the possibly-partial `__old` is garbage) or inside
  *     the swap's defensive stale-`__old` delete before step 1 (the
  *     target is intact, the complete twin is an uncommitted rewrite)
  *     — the target is the preferred copy either way: delete `__old`
  *     AND any lingering twin in the same pass (the interrupted
  *     rewrite just re-runs).
  *   - `__old` present, target absent, twin present → crash between
  *     steps 1 and 2: the twin is complete BY PROTOCOL (the target is
  *     only renamed away after the twin write finished) — rename the
  *     twin in, delete `__old`.
  *   - `__old` present alone → `__old` holds the last complete target
  *     — restore it. Besides states outside the protocol, this is what
  *     a crash between steps 1 and 2 of a store last written under the
  *     retired `__fold` twin name recovers to: the `__fold` dir is left
  *     as inert debris and `__old`, the pre-fold copy, comes back — the
  *     at-least-once batch replay then folds that batch again.
  *   - twin present, target present, no `__old` → crash mid-twin-write
  *     (the twin may be partial, the target is intact) — discard the
  *     twin; the interrupted rewrite just re-runs.
  *   - twin present alone → the pre-r15 delete+rename layout's
  *     crash-between state (twin complete) — rename it in.
  */
private[graft] object DirSwap {

  private val TwinSuffix = "__compact"
  private val OldSuffix = "__old"

  /** (FileSystem, Path) of a store path — the pair every caller of
    * this protocol needs (was duplicated per call site). */
  def fsOf(spark: org.apache.spark.sql.SparkSession,
           path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def sibling(target: Path, suffix: String): Path =
    new Path(target.getParent, target.getName + suffix)

  /** True if `name` is a twin/backup artifact of this protocol (never
    * list such dirs as data). */
  def isScratch(name: String): Boolean =
    name.endsWith(TwinSuffix) || name.endsWith(OldSuffix)

  /** Base target name of a scratch dir name. */
  def baseOf(name: String): String =
    name.stripSuffix(TwinSuffix).stripSuffix(OldSuffix)

  /** True iff `dir` exists and holds at least one committed parquet
    * data file at its top level. A directory that exists WITHOUT data
    * files is a crash leftover (a write that died before its commit —
    * only `_temporary`/`_SUCCESS` debris inside), never a committed
    * store: every writer of this protocol commits at least one part
    * file. Callers use this to treat such dirs as absent — including
    * a commit-less twin that [[recover]]'s twin-alone rule promoted. */
  def hasData(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))

  /** The STAMP of a committed directory: its data-file names, sorted
    * and joined. Spark names every part file uniquely per write, so a
    * rewrite through [[replace]] — by this process or any other —
    * changes the stamp. */
  private def stamp(fs: FileSystem, dir: Path): String =
    fs.listStatus(dir).map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .sorted.mkString(",")

  /** Driver-side cache of values parsed from committed directories (a
    * tiered index's sidecar, a frontier bloom's epoch bytes): a
    * streaming loop reads them every batch, but they change only when
    * rewritten, so the parse — a Spark job — is paid once per write
    * instead of once per read. Entries are keyed by path and valid only
    * under the [[stamp]] they were parsed or written at; a bounded LRU,
    * so dirs that are gone age out. */
  private val ParsedMax = 64
  private val parsed =
    new java.util.LinkedHashMap[String, (String, AnyRef)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, AnyRef)]): Boolean =
        size() > ParsedMax
    }

  /** The value parsed from `dir` at its current [[stamp]]: the cached
    * one when the stamp matches, else `parse`'s, cached when defined. */
  def cached[V <: AnyRef](fs: FileSystem, dir: Path)(
      parse: => Option[V]): Option[V] = {
    val st = stamp(fs, dir)
    parsed.synchronized {
      val hit = parsed.get(dir.toString)
      if (hit != null && hit._1 == st) return Some(hit._2.asInstanceOf[V])
    }
    val v = parse
    v.foreach(x => parsed.synchronized { parsed.put(dir.toString, (st, x)) })
    v
  }

  /** Cache `v` as what `dir` now holds — its writer, right after the
    * write, so the next read parses nothing. */
  def remember(fs: FileSystem, dir: Path, v: AnyRef): Unit = {
    val st = stamp(fs, dir)
    parsed.synchronized { parsed.put(dir.toString, (st, v)); () }
  }

  /** Replace the directory at `target` with what `write` produces at
    * the path it is handed: after [[recover]], an absent target is
    * written directly, an existing one through the twin and the swap
    * (see the object doc). `write` may read the current target — it
    * stays intact until the twin is complete. */
  def replace(spark: org.apache.spark.sql.SparkSession, target: String)(
      write: String => Unit): Unit = {
    val (fs, t) = fsOf(spark, target)
    recover(fs, t)
    if (!fs.exists(t)) write(target)
    else {
      val twin = sibling(t, TwinSuffix)
      write(twin.toString)
      swap(fs, t, twin)
    }
  }

  /** Make the complete `twin` directory become `target` (see object
    * doc for the crash analysis). */
  private def swap(fs: FileSystem, target: Path, twin: Path): Unit = {
    val old = sibling(target, OldSuffix)
    if (fs.exists(old)) fs.delete(old, true) // stale garbage, defensive
    if (fs.exists(target))
      require(fs.rename(target, old), s"rename $target -> $old failed")
    require(fs.rename(twin, target), s"rename $twin -> $target failed")
    fs.delete(old, true)
  }

  /** Restore `target` after a possible crash (idempotent; see object
    * doc for the case table). */
  def recover(fs: FileSystem, target: Path): Unit = {
    val old = sibling(target, OldSuffix)
    val twin = sibling(target, TwinSuffix)
    if (fs.exists(old)) {
      if (fs.exists(target)) {
        // old+target(+twin): the swap either completed (old is
        // garbage, twin already renamed away) or crashed inside the
        // defensive stale-__old delete BEFORE step 1 with a complete
        // twin beside the intact target — either way the target is
        // the preferred copy; drop BOTH scratch dirs in this one pass
        // (ADVICE r15: leaving the twin made the clean state need a
        // second recover; the interrupted rewrite just re-runs)
        fs.delete(old, true)
        if (fs.exists(twin)) fs.delete(twin, true)
      }
      else if (fs.exists(twin)) {
        require(fs.rename(twin, target), s"rename $twin -> $target failed")
        fs.delete(old, true)
      } else
        require(fs.rename(old, target), s"rename $old -> $target failed")
    } else if (fs.exists(twin)) {
      if (fs.exists(target)) fs.delete(twin, true)
      else require(fs.rename(twin, target), s"rename $twin -> $target failed")
    }
  }
}
