package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Manifest-frame installs — the one version-pointer mechanism of every
  * multi-table store ([[graft.index.Indexer]]'s `vocab`/`meta`,
  * [[graft.dedup.DedupStore]]'s `sets`/`buckets`,
  * [[graft.similarity.IvfStore]]'s `centroids`/`lists`/`deletes`).
  * A maintenance verb rewrites SOME tables and carries the rest BY
  * REFERENCE: copying an unchanged `sets`, `postings` or centroid table
  * per repair would be an O(store) tax for nothing.
  *
  * Layout:
  *   - no `_frame` marker → the LEGACY layout: every table lives at
  *     `<store>/<table>` (every fresh build starts here — zero
  *     indirection until the first frame install);
  *   - `_frame` = N → the manifest FILE `<store>/frames/v=N` lists one
  *     `<table>:<token>` line per declared table, where the token is
  *     either a generation number (data at `<store>/tables/<table>/g=<gen>`)
  *     or the literal `root` (data still at the legacy `<store>/<table>` —
  *     carried by reference from before the store was frame-tracked).
  *
  * A declared table with no data (one the legacy store never had, or
  * one a verb [[Stage.drop]]ped) is a generation no writer has created
  * yet: it resolves to a directory that does not exist, so readers see
  * the table as absent, and an append-only writer (IVF `deleteVectors`
  * after an expunge) creates it in place. Undeclared tables fail
  * loudly.
  *
  * Install protocol (one writer, many readers — the repo-wide store
  * discipline): stage each REWRITTEN table into a fresh generation dir,
  * write the complete next manifest (tmp-first marker install), then
  * flip the `_frame` pointer with ONE rename. Readers resolve pointer →
  * manifest → table dirs; they see the old frame or the new frame,
  * never a mix, so two tables rewritten by one verb can never describe
  * different populations. A crash any time before the flip costs nothing
  * (readers serve the old frame; the re-run restages); after the flip,
  * superseded generations are dead bytes [[gc]] sweeps.
  *
  * Retention: [[gc]] keeps the current frame AND the `retain` most
  * recent superseded frames (default 1) — an external reader that
  * resolved its table dirs just before a flip completes its scan against
  * the retained previous frame; only a SECOND install while that scan
  * still runs can sweep the files under it (the same bounded grace
  * contract as [[graft.streaming.VersionedStore]]'s `vacuum(retain)`).
  * `retain = 0` is the reclaim-now maintenance verb.
  */
object Frames {

  private[graft] val FrameMarker = "_frame"
  private val RootToken = "root"

  /** Current frame version (None = legacy layout, never installed). */
  def currentVersion(spark: SparkSession, path: String): Option[Long] =
    graft.FsOps.readLongMarker(spark, path, FrameMarker)

  /** The manifest of frame `v`: table → token (gen digits or "root").
    * Loud on a missing/corrupt manifest — a store whose pointer names a
    * frame that cannot be read must never silently serve the legacy
    * root dirs (they may be a SUPERSEDED population). */
  def manifest(spark: SparkSession, path: String, v: Long): Map[String, String] = {
    val raw = graft.FsOps.readMarker(spark, s"$path/frames", s"v=$v").getOrElse(
      throw new IllegalStateException(
        s"store at $path points at frame v=$v but $path/frames/v=$v is " +
          "missing — a swept or half-installed manifest; restore the frame " +
          "or reset the _frame pointer to a retained version"))
    raw.split("\n").iterator.map(_.trim).filter(_.nonEmpty).map { line =>
      val i = line.lastIndexOf(':')
      require(i > 0 && (line.substring(i + 1) == RootToken ||
          line.substring(i + 1).forall(_.isDigit)),
        s"corrupt manifest line '$line' in $path/frames/v=$v")
      line.substring(0, i) -> line.substring(i + 1)
    }.toMap
  }

  private def dirOf(path: String, table: String, token: String): String =
    if (token == RootToken) s"$path/$table" else s"$path/tables/$table/g=$token"

  /** Directories of `tables` in the store's CURRENT frame, from ONE
    * pointer read and ONE manifest read. Legacy stores resolve to
    * `<path>/<table>` (existence is the caller's concern, exactly as
    * before frames existed); frame-tracked stores resolve through the
    * manifest and FAIL LOUDLY on a table the manifest does not list
    * (the manifest is the complete inventory of its frame). */
  def resolveAll(spark: SparkSession, path: String,
                 tables: Seq[String]): Map[String, String] =
    currentVersion(spark, path) match {
      case None => tables.map(t => t -> s"$path/$t").toMap
      case Some(v) =>
        val m = manifest(spark, path, v)
        tables.map { t =>
          t -> dirOf(path, t, m.getOrElse(t, throw new IllegalStateException(
            s"frame v=$v of $path lists no '$t' table — the manifest " +
              "is the frame's complete inventory; fsck the store")))
        }.toMap
    }

  /** Directory of one table in the store's CURRENT frame ([[resolveAll]]). */
  def resolve(spark: SparkSession, path: String, table: String): String =
    resolveAll(spark, path, Seq(table))(table)

  /** One staged multi-table install. Obtain via [[begin]]; write each
    * rewritten table into [[stageDir]]'s directory, [[drop]] the tables
    * the new frame must not carry; [[commit]] installs everything with
    * one pointer flip. Tables neither staged nor dropped carry by
    * reference (their current manifest entry — or `root` on a legacy
    * store — is copied into the next manifest verbatim). */
  final class Stage private[Frames] (spark: SparkSession, path: String,
                                     tables: Seq[String],
                                     nextVersion: Long,
                                     carried: Map[String, String]) {
    private val entries = scala.collection.mutable.Map[String, String](
      carried.toSeq: _*)
    // a declared table the current frame lacks is carried as absent
    tables.filterNot(carried.contains).foreach(drop)

    /** Fresh generation directory for `table` — past every generation on
      * disk AND the one the current frame references (which may not
      * exist yet, and must never be shared with the staged frame). The
      * dir is cleared first: unflipped debris there is a DIFFERENT
      * crashed install's staging by definition — unreachable by
      * readers, and stale files with other names would survive an
      * overwrite-mode parquet write of this verb's and mix two rewrites
      * into one table. Records the new generation in the next manifest. */
    def stageDir(table: String): String = {
      require(tables.contains(table),
        s"'$table' is not one of this store's declared tables: $tables")
      val base = new Path(s"$path/tables/$table")
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val onDisk =
        if (!fs.exists(base)) Iterator.empty
        else fs.listStatus(base).iterator.map(_.getPath.getName)
          .filter(_.startsWith("g=")).flatMap(_.stripPrefix("g=").toLongOption)
      val next = (onDisk ++ carried.get(table).flatMap(_.toLongOption))
        .foldLeft(-1L)(math.max) + 1L
      fs.delete(new Path(dirOf(path, table, next.toString)), true)
      entries(table) = next.toString
      dir(table)
    }

    /** Install the next frame WITHOUT `table`'s current data: the table
      * resolves to a fresh, never-written generation (absent to readers
      * until a writer creates it). */
    def drop(table: String): Unit = stageDir(table)

    /** Directory `table` resolves to in the staged frame. */
    def dir(table: String): String = dirOf(path, table, entries(table))

    /** Install the staged frame: write the complete next manifest
      * (tmp-first), flip the `_frame` pointer with ONE rename, sweep
      * frames older than the retention window. The flip is the only
      * commit point — a crash anywhere before it leaves the old frame
      * serving and the re-run restaging over dead bytes. */
    def commit(retain: Int = 1): Unit = {
      val content = entries.toSeq.sortBy(_._1)
        .map { case (t, tok) => s"$t:$tok" }.mkString("\n")
      graft.FsOps.writeMarker(spark, s"$path/frames", s"v=$nextVersion", content)
      graft.FsOps.writeLongMarker(spark, path, FrameMarker, nextVersion) // flip
      gc(spark, path, tables, retain)
    }
  }

  /** Open a staged install against the store's current frame. `tables`
    * is the store's complete declared table inventory — carried entries
    * come from it (legacy stores carry every declared table that exists
    * at the root as `root`, and the rest as absent). */
  def begin(spark: SparkSession, path: String, tables: Seq[String]): Stage =
    currentVersion(spark, path) match {
      case Some(v) =>
        new Stage(spark, path, tables, v + 1L, manifest(spark, path, v))
      case None =>
        val fs = new Path(path).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val present = tables.filter(t => fs.exists(new Path(s"$path/$t")))
        new Stage(spark, path, tables, 0L,
          present.map(_ -> RootToken).toMap)
    }

  /** Sweep frames outside the retention window: keep manifests
    * `[cur−retain, cur]` (the legacy root layout counts as the frame
    * before v=0), delete older manifest files, every generation dir no
    * kept manifest references, and the legacy root table dirs once no
    * kept manifest carries them. Post-commit cleanup under the store's
    * single-maintenance-writer discipline — never an unreadable store:
    * everything swept is unreachable from every kept frame. */
  def gc(spark: SparkSession, path: String, tables: Seq[String],
         retain: Int = 1): Unit = {
    require(retain >= 0, s"retain must be >= 0 (got $retain)")
    val cur = currentVersion(spark, path).getOrElse(return)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keptVersions = (math.max(0L, cur - retain) to cur)
      .filter(v => graft.FsOps.readMarker(spark, s"$path/frames", s"v=$v").isDefined)
    val kept = keptVersions.map(v => manifest(spark, path, v))
    // the legacy flat layout counts as the frame before v=0: within the
    // retention window it is kept WHOLE (a reader may have resolved any
    // of its tables just before the first install)
    val legacyInWindow = cur - retain < 0
    for (t <- tables) {
      // generation dirs: delete what no kept manifest references
      val refd = kept.flatMap(_.get(t)).filter(_ != RootToken).toSet
      val base = new Path(s"$path/tables/$t")
      if (fs.exists(base))
        fs.listStatus(base).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith("g=") && !refd.contains(n.stripPrefix("g=")))
            fs.delete(st.getPath, true)
        }
      // THIS table's legacy root dir: dead once the legacy frame left
      // the window and no kept manifest carries the table by reference
      if (!legacyInWindow && !kept.exists(_.get(t).contains(RootToken)))
        fs.delete(new Path(s"$path/$t"), true)
    }
    // superseded manifest files (tiny, but the sweep is the contract).
    // Only versions BELOW the window are swept: a manifest above `cur`
    // is a crashed install's staging the re-run overwrites, and kept
    // versions' `_v=…` asides may be the only durable copy of a
    // mid-swap manifest (FsOps.readMarker's recovery path) — neither is
    // garbage.
    val fr = new Path(s"$path/frames")
    if (fs.exists(fr))
      fs.listStatus(fr).foreach { st =>
        val n = st.getPath.getName
        val core =
          if (n.startsWith("v=")) Some(n.stripPrefix("v="))
          else if (n.startsWith("_v=") && n.endsWith(".swap_old"))
            Some(n.stripPrefix("_v=").stripSuffix(".swap_old"))
          else if (n.startsWith("_v=") && n.endsWith(".tmp"))
            Some(n.stripPrefix("_v=").stripSuffix(".tmp"))
          else None
        if (core.flatMap(_.toLongOption).exists(_ < cur - retain))
          fs.delete(st.getPath, true)
      }
  }
}
