package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Operator-facing maintenance CLI: one entry point dispatching the
  * detect/repair/compaction surface every store family already exposes —
  * the four families share the fsck report shape
  * ([[graft.operators.StoreCheck]]) and the crash-safe swap discipline,
  * and this driver gives them one invocation surface:
  *
  * {{{
  *   runMain graft.Maintain <family> <op> <path> [keyCols...]
  *
  *   index  fsck | fsck-incr | mark-audited | repair | rollback | expunge | compact
  *        | gc [retain]   (frame-retention sweep of the vocab/meta frame)
  *        | advise [maxFilesPerLeaf] [apply]  (fragmentation advisor:
  *                          nonzero exit when a leaf exceeds the file
  *                          budget; apply = run compact, re-advise)
  *   ivf    fsck | fsck-incr | mark-audited | repair | expunge | compact
  *        | advise [maxRangeFrac] [nCentroids] [apply]  (provenance→recluster
  *                                  advisor: exits nonzero when the fsck
  *                                  report's range-only provenance share
  *                                  says recluster is due; with `apply`,
  *                                  runs the recluster when due and
  *                                  reports the post-heal advice — the
  *                                  closed loop)
  *        | recluster [nCentroids] [iters] [sampleMod]  (post-merge:
  *                                  re-train the unioned centroid set)
  *        | flatten   (end of a shard's ingest life: batch= layers ->
  *                     fresh cid=-only layout, mergeable with fresh shards)
  *        | gc [retain]   (frame-retention sweep: installs keep `retain`
  *                          superseded frames — default 1 — as the
  *                          concurrent readers' grace window; 0 = now)
  *   dedup  fsck | fsck-incr | mark-audited | repair | compact
  *        | gc [retain]   (frame-retention sweep of the sets/buckets frame)
  *        | advise [maxBucketDocs] [minJaccard] [apply]  (bucket-skew
  *                          advisor: nonzero exit on hot LSH buckets;
  *                          apply = self-dedup them, re-advise)
  *   any    heal-markers   (delete stale `.swap_old` marker asides — run
  *                          with no concurrent writer; see FsOps.readMarker)
  *   pipeline fsck | forget <idsParquet> [purge] | resume
  *        | sweep <predicate...>   (retention: forget what the vstore
  *                                  metadata marks expired)
  *        | merge <shardRoots...> [move]  (promote shard-built roots into
  *                                  the path, family-by-family shard
  *                                  merges; `move` renames — consumes
  *                                  the shards)
  *        | scrap  (delete the path if it is a CERTIFIED consumed husk —
  *                  `_merged_into` stamped and the recorded dest
  *                  committed; a pipeline root scraps when every family
  *                  child is a certified husk)
  *          (path = the PIPELINE ROOT holding index/ dedup/ ivf/ child
  *           stores — the cross-store takedown cascade and its audit;
  *           see graft.pipeline.Forget)
  *   vstore fsck | fsck-incr | mark-audited | repair
  *        | advise [maxReplay] [apply <keys...>]  (replay-depth advisor:
  *                          nonzero exit when reads replay too many log
  *                          commits past the checkpoint base; apply =
  *                          checkpoint at the newest version, re-advise)
  *        | repair-at <version> <keys...>
  *        | checkpoint <version> <keys...> | vacuum <retain>
  *        | purge <idsParquet> <keys...>   (key purge from ALL history)
  *          (fsck/fsck-incr/repair need the store's key columns)
  * }}}
  *
  * `repair` is each family's documented repair primitive beside its
  * checker: `refreshDerived` (index), `repairLists` (IVF),
  * `refreshBuckets` (dedup), `repairCheckpoint` (versioned). fsck ops
  * print the invariant report and exit NONZERO when any violations are
  * found, so the CLI drops straight into a cron/monitoring loop; repair
  * ops are silent on success (re-run fsck to confirm), matching the
  * corrupt → detect → repair → re-check lifecycle the gate entries
  * verify end to end (q_store_repair, q_ivf_repair, q_dedup_repair,
  * q_vstore_repair).
  */
object Maintain {

  /** Dispatch one maintenance op; returns the report frame for fsck ops
    * (None for mutations). Separated from [[main]] so the smoke spec
    * drives it in-process. */
  // the store records its own (numHashes, bands); the CLI reads it back
  // instead of forcing defaults — a non-default store would otherwise
  // hard-fail every dedup route on the geometry guard (pre-marker
  // stores fall back to the build defaults, which the guard accepts
  // vacuously)
  private def dedupGeometry(spark: SparkSession, path: String): (Int, Int) =
    dedup.DedupStore.storedGeometry(spark, path).getOrElse((128, 32))

  /** Each frame-installing family's declared tables — the inventory the
    * one `gc` verb sweeps ([[operators.Frames.gc]]). */
  private val FrameTables: Map[String, Seq[String]] = Map(
    "index" -> index.Indexer.DerivedTables,
    "dedup" -> dedup.DedupStore.Tables,
    "ivf" -> similarity.IvfStore.Tables)

  /** The index family's compact body — shared by the `compact` verb and
    * `advise ... apply` (the advisor's repair half must be EXACTLY the
    * verb an operator would run by hand). */
  private def compactIndexStore(spark: SparkSession, path: String): Unit = {
    def batchRange(table: String): Seq[String] =
      if (spark.read.parquet(s"$path/$table").columns.contains("batch"))
        Seq("batch") else Seq.empty
    val docBucketed = index.Indexer.docBucketsOf(spark, path).isDefined
    val posDocBucketed = index.Indexer.positionalDocBucketsOf(spark, path).isDefined
    if (docBucketed || posDocBucketed)
      // doc-bucketed table(s): the generic rewrite would strip the
      // bucket-suffixed file names the zero-shuffle join depends on —
      // compact through the layout-aware twin instead (it routes each
      // table by its own marker, positional included)
      index.Indexer.compactDocBucketed(spark, path)
    // the three tables compact independently — overlap them (guide §2.6)
    val pos = new org.apache.hadoop.fs.Path(s"$path/positional")
    val posStep: Seq[() => Unit] =
      if (!posDocBucketed &&
          pos.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(pos))
        Seq(() => { operators.Compaction.compactPartitionsRecursive(spark,
          s"$path/positional", rangeBy = batchRange("positional")); () })
      else Seq.empty
    val flatSteps: Seq[() => Unit] =
      if (docBucketed) Seq.empty
      else Seq(
        // per-table: the term-bucketed tables leaf by leaf (layout
        // preserved), the flat tables in place
        () => { operators.Compaction.compactPartitionsRecursive(spark,
          s"$path/postings", rangeBy = batchRange("postings")); () },
        () => { operators.Compaction.compact(spark, s"$path/doc_stats",
          rangeBy = batchRange("doc_stats")); () })
    operators.Par.run(flatSteps ++ posStep: _*)
  }

  def run(spark: SparkSession, family: String, op: String, path: String,
          extra: Seq[String] = Seq.empty): Option[DataFrame] = {
    def keys: Seq[String] = {
      require(extra.nonEmpty,
        s"$family $op needs the store's key column(s) as trailing args")
      extra
    }
    // numeric args fail with the op's usage message, not a bare
    // NumberFormatException (same contract as the adjacent require guards)
    def longArg(s: String, usage: String): Long =
      s.toLongOption.getOrElse(
        throw new IllegalArgumentException(s"$usage (got '$s')"))
    // batch-tracked tables compact range-partitioned by their ingest
    // ordinal so the incremental audits keep file-level min/max skipping
    def batchRange(table: String): Seq[String] =
      if (spark.read.parquet(s"$path/$table").columns.contains("batch"))
        Seq("batch") else Seq.empty
    (family, op) match {
      // family-agnostic: stale-aside cleanup is a property of the marker
      // discipline every store shares, not of any one family
      case (_, "heal-markers") =>
        FsOps.healStaleAsides(spark, path).foreach(m =>
          println(s"[maintain] healed stale aside for marker $m"))
        None
      case ("index", "fsck")         => Some(index.Indexer.checkStore(spark, path))
      case ("index", "fsck-incr")    => Some(index.Indexer.checkStoreIncremental(spark, path))
      case ("index", "mark-audited") => index.Indexer.markAudited(spark, path); None
      case ("index", "repair")       => index.Indexer.refreshDerived(spark, path); None
      // drop a crashed append's orphaned rows (the streaming ingest
      // face's documented halt-loudly repair, StreamRuntime.runIndexIngest)
      case ("index", "rollback")     => index.Indexer.rollbackPartialAppend(spark, path); None
      case ("index", "expunge")      => index.Indexer.expungeDeletes(spark, path); None
      // frame-retention sweep over the family's
      // declared frame tables: installs keep one superseded frame as the
      // concurrent readers' grace window; `gc 0` reclaims it immediately
      // (no external reader mid-scan)
      case (fam, "gc") if FrameTables.contains(fam) =>
        val usage = s"$fam gc <path> [retain >= 0, default 1]"
        operators.Frames.gc(spark, path, FrameTables(fam),
          retain = extra.headOption
            .map(a => a.toIntOption.filter(_ >= 0).getOrElse(
              throw new IllegalArgumentException(s"$usage (got '$a')")))
            .getOrElse(1))
        None
      case ("index", "compact") => compactIndexStore(spark, path); None
      // fragmentation advisor (VERDICT r18 #6): exits nonzero exactly
      // when some leaf holds more than [maxFilesPerLeaf] data files;
      // with the trailing literal `apply`, runs the compact verb when
      // due and reports the post-heal advice — detect → repair →
      // re-check in one cron invocation (the ivf advise contract)
      case ("index", "advise") =>
        val usage = "index advise <path> [maxFilesPerLeaf >= 1, default 8] [apply]"
        val applyIt = extra.lastOption.contains("apply")
        val nums = if (applyIt) extra.init else extra
        val maxFiles = nums.headOption
          .map(a => a.toIntOption.filter(_ >= 1).getOrElse(
            throw new IllegalArgumentException(s"$usage (got '$a')")))
          .getOrElse(8)
        val dirs = Seq("postings", "doc_stats", "positional").map(t => s"$path/$t")
        val advice = operators.Compaction.adviseCompaction(spark, dirs, maxFiles)
        if (applyIt &&
            advice.collect()(0).getAs[Long]("violations") > 0) {
          compactIndexStore(spark, path)
          Some(operators.Compaction.adviseCompaction(spark, dirs, maxFiles))
        } else Some(advice)
      case ("ivf", "fsck")         => Some(similarity.IvfStore.checkStore(spark, path))
      // provenance→recluster advisor (one row; violations=1 iff the
      // range-only provenance share exceeds [maxRangeFrac], so a cron
      // `Maintain ivf advise` exits nonzero exactly when recluster is
      // due). With the trailing literal `apply` the loop closes without
      // a human: when due, run reclusterStore and report the POST-heal
      // advice — the detect → repair → re-check lifecycle in one verb,
      // exiting clean after a successful heal. The applied recluster
      // re-trains to the store's OWN current centroid count (one
      // ≤-nCentroids metadata read), never a hardcoded default: an
      // unattended cron loop re-training an 8-centroid store to 16
      // silently changes probe selectivity and recall (ADVICE r18);
      // pass [nCentroids] to re-train to an explicit k instead.
      case ("ivf", "advise") =>
        val usage =
          "ivf advise <path> [maxRangeFrac 0..1, default 0.25] [nCentroids] [apply]"
        val applyIt = extra.lastOption.contains("apply")
        val nums = if (applyIt) extra.init else extra
        val frac = nums.headOption.map(a => a.toDoubleOption.getOrElse(
          throw new IllegalArgumentException(s"$usage (got '$a')")))
          .getOrElse(0.25)
        val explicitK = nums.lift(1).map(a => a.toIntOption.getOrElse(
          throw new IllegalArgumentException(s"$usage (got '$a')")))
        val advice = similarity.IvfStore.adviseRecluster(spark, path, frac)
        if (applyIt &&
            advice.collect()(0).getAs[Long]("violations") > 0) {
          val k = explicitK.getOrElse(
            spark.read.parquet(operators.Frames.resolve(spark, path, "centroids"))
              .count().toInt)
          similarity.IvfStore.reclusterStore(spark, path, nCentroids = k)
          Some(similarity.IvfStore.adviseRecluster(spark, path, frac))
        } else Some(advice)
      case ("ivf", "fsck-incr")    => Some(similarity.IvfStore.checkStoreIncremental(spark, path))
      case ("ivf", "mark-audited") => similarity.IvfStore.markAudited(spark, path); None
      case ("ivf", "repair")  => similarity.IvfStore.repairLists(spark, path); None
      case ("ivf", "expunge") => similarity.IvfStore.expungeDeletes(spark, path); None
      case ("ivf", "compact") => similarity.IvfStore.compactLists(spark, path); None
      // end-of-ingest layout rewrite: batch= layers -> fresh cid=-only
      // lists, so a streamed shard can merge with fresh-built ones
      case ("ivf", "flatten") => similarity.IvfStore.flattenBatches(spark, path); None
      case ("ivf", "recluster") =>
        // post-promotion maintenance: mergeStores unions centroid sets,
        // so K merges probe K× the centroids — recluster re-trains to
        // [nCentroids] (default 16) with [iters] Lloyd rounds (default
        // 2) on a 1-in-[sampleMod] vector sample (default 1 = all)
        val usage = "ivf recluster <path> [nCentroids] [iters] [sampleMod]"
        val nums = extra.map(a => longArg(a, usage).toInt)
        similarity.IvfStore.reclusterStore(spark, path,
          nCentroids = nums.headOption.getOrElse(16),
          kmeansIters = nums.lift(1).getOrElse(2),
          trainSampleMod = nums.lift(2).getOrElse(1))
        None
      // bucket-skew advisor (VERDICT r18 #6): exits nonzero exactly when
      // hot (band,bucket) groups exceed [maxBucketDocs]; `apply` runs
      // the self-dedup repair (dedupHotBuckets at [minJaccard], default
      // 0.8 — removal installs via the manifest frame) and reports the
      // post-heal advice
      case ("dedup", "advise") =>
        val usage =
          "dedup advise <path> [maxBucketDocs >= 1, default 32] " +
            "[minJaccard (0,1], default 0.8] [apply]"
        val applyIt = extra.lastOption.contains("apply")
        val nums = if (applyIt) extra.init else extra
        val maxDocs = nums.headOption
          .map(a => a.toIntOption.filter(_ >= 1).getOrElse(
            throw new IllegalArgumentException(s"$usage (got '$a')")))
          .getOrElse(32)
        val minJ = nums.lift(1)
          .map(a => a.toDoubleOption.filter(j => j > 0.0 && j <= 1.0).getOrElse(
            throw new IllegalArgumentException(s"$usage (got '$a')")))
          .getOrElse(0.8)
        val advice = dedup.DedupStore.adviseBucketSkew(spark, path, maxDocs)
        if (applyIt &&
            advice.collect()(0).getAs[Long]("violations") > 0) {
          val removed = dedup.DedupStore.dedupHotBuckets(spark, path, minJ, maxDocs)
          println(s"[maintain] dedup advise apply: removed $removed duplicate doc(s)")
          Some(dedup.DedupStore.adviseBucketSkew(spark, path, maxDocs))
        } else Some(advice)
      case ("dedup", "fsck") =>
        val (nh, b) = dedupGeometry(spark, path)
        Some(dedup.DedupStore.checkStore(spark, path, numHashes = nh, bands = b))
      case ("dedup", "fsck-incr") =>
        val (nh, b) = dedupGeometry(spark, path)
        Some(dedup.DedupStore.checkStoreIncremental(spark, path, numHashes = nh, bands = b))
      case ("dedup", "mark-audited") => dedup.DedupStore.markAudited(spark, path); None
      case ("dedup", "repair") =>
        val (nh, b) = dedupGeometry(spark, path)
        dedup.DedupStore.refreshBuckets(spark, path, numHashes = nh, bands = b); None
      case ("dedup", "compact") =>
        // frame-resolved dirs: a removeDocs/refreshBuckets-installed
        // store's tables live under generation dirs, not the root
        for (t <- Seq("sets", "buckets")) {
          val dir = dedup.DedupStore.tablePath(spark, path, t)
          operators.Compaction.compact(spark, dir,
            rangeBy =
              if (spark.read.parquet(dir).columns.contains("batch"))
                Seq("batch") else Seq.empty)
        }
        None
      // replay-depth advisor (the vstore face of the advise/apply
      // loop): nonzero exit when reads at the newest version replay
      // more than [maxReplay] log commits past their checkpoint base;
      // with `apply <keyCols...>`, checkpoints at the newest version
      // when due and reports the post-heal advice
      case ("vstore", "advise") =>
        val usage =
          "vstore advise <path> [maxReplay >= 1, default 8] [apply <keyCols...>]"
        val applyAt = extra.indexOf("apply")
        val nums = if (applyAt >= 0) extra.take(applyAt) else extra
        val maxReplay = nums.headOption
          .map(a => a.toIntOption.filter(_ >= 1).getOrElse(
            throw new IllegalArgumentException(s"$usage (got '$a')")))
          .getOrElse(8)
        val advice = streaming.VersionedStore.adviseCheckpoint(spark, path, maxReplay)
        if (applyAt >= 0 &&
            advice.collect()(0).getAs[Long]("violations") > 0) {
          val keyCols = extra.drop(applyAt + 1)
          require(keyCols.nonEmpty,
            s"$usage — apply needs the store's key column(s)")
          streaming.VersionedStore.checkpoint(spark, path,
            streaming.VersionedStore.newestVersion(spark, path), keyCols)
          Some(streaming.VersionedStore.adviseCheckpoint(spark, path, maxReplay))
        } else Some(advice)
      case ("vstore", "fsck")         => Some(streaming.VersionedStore.checkStore(spark, path, keys))
      case ("vstore", "fsck-incr")    => Some(streaming.VersionedStore.checkStoreIncremental(spark, path, keys))
      case ("vstore", "mark-audited") => streaming.VersionedStore.markAudited(spark, path); None
      case ("vstore", "repair") => streaming.VersionedStore.repairCheckpoint(spark, path, keys); None
      case ("vstore", "repair-at") =>
        // args: <version> <keyCols...> — repair a specific (possibly
        // intermediate) checkpoint; run oldest-flagged-first
        require(extra.length >= 2,
          "vstore repair-at needs <version> then the store's key column(s)")
        streaming.VersionedStore.repairCheckpoint(spark, path, extra.tail,
          version = Some(longArg(extra.head,
            "vstore repair-at needs a numeric <version> then the store's key column(s)")))
        None
      case ("vstore", "checkpoint") =>
        // args: <version> <keyCols...> — materialize the snapshot so
        // later reads replay only the delta after it
        require(extra.length >= 2,
          "vstore checkpoint needs <version> then the store's key column(s)")
        streaming.VersionedStore.checkpoint(spark, path,
          longArg(extra.head,
            "vstore checkpoint needs a numeric <version> then the store's key column(s)"),
          extra.tail)
        None
      case ("vstore", "purge") =>
        // args: <idsParquet> <keyCols...> — right-to-be-forgotten through
        // time travel: rewrite every log commit and checkpoint without
        // the ids (vacuum drops whole versions; purge drops KEYS)
        require(extra.length >= 2,
          "vstore purge needs <idsParquet> then the store's key column(s)")
        val st = streaming.VersionedStore.purgeKeys(spark, path, extra.tail,
          spark.read.parquet(extra.head))
        println(s"[maintain] purged: logs ${st.logsRewritten.mkString(",")} " +
          s"checkpoints ${st.checkpointsRewritten.mkString(",")}")
        None
      case ("vstore", "vacuum") =>
        // args: <retain> — drop history not needed at versions >= retain
        require(extra.nonEmpty, "vstore vacuum needs <retainVersion>")
        streaming.VersionedStore.vacuum(spark, path,
          longArg(extra.head, "vstore vacuum needs a numeric <retainVersion>"))
        None
      // the cross-store governance face: `path` is the PIPELINE ROOT
      // (conventional child stores index/ dedup/ ivf/ — any subset)
      case ("pipeline", "fsck") => Some(pipeline.Forget.checkPipeline(spark, path))
      case ("pipeline", "forget") =>
        require(extra.nonEmpty,
          "pipeline forget needs the ids parquet path as a trailing arg " +
            "(a doc_id column; add 'purge' as a second arg for immediate " +
            "physical expunge)")
        val n = pipeline.Forget.forget(spark, path,
          spark.read.parquet(extra.head),
          purge = extra.lift(1).contains("purge"))
        println(s"[maintain] forget manifest m=$n complete")
        None
      case ("pipeline", "resume") =>
        val done = pipeline.Forget.resume(spark, path)
        if (done.isEmpty) println("[maintain] no pending forget manifests")
        else done.foreach(n => println(s"[maintain] completed forget manifest m=$n"))
        None
      case ("pipeline", "merge") =>
        // args: the shard roots, optionally followed by the literal
        // `move` (O(files) rename promotion — consumes the shards);
        // `path` is the DESTINATION root
        val move = extra.lastOption.contains("move")
        val shardRoots = if (move) extra.init else extra
        require(shardRoots.size >= 2,
          "pipeline merge needs >= 2 shard-root paths as trailing args " +
            "(the maintenance path is the DESTINATION root; append " +
            "'move' for the rename promotion)")
        val fams = pipeline.Promote.mergeRoots(spark, shardRoots, path,
          moveFiles = move)
        println(s"[maintain] promoted ${shardRoots.size} shard roots " +
          s"(families: ${fams.mkString(",")}${if (move) ", moved" else ""}) " +
          s"into $path")
        None
      case ("pipeline", "scrap") =>
        // delete a certified consumed husk (a stamped store, or a shard
        // root whose every family child is stamped); refuses live or
        // uncertified paths — see Promote.scrapRoot
        val gone = pipeline.Promote.scrapRoot(spark, path)
        println(s"[maintain] scrapped ${gone.size} husk store(s): " +
          gone.mkString(", "))
        None
      case ("pipeline", "sweep") =>
        // args: the retention predicate over the vstore snapshot columns
        // (joined, so `ingest_day < DATE'2024-01-10'` needs no quoting)
        require(extra.nonEmpty,
          "pipeline sweep needs a SQL predicate over the vstore metadata " +
            "as trailing args, e.g.: ingest_day < DATE'2024-01-10'")
        pipeline.Forget.retentionSweep(spark, path, extra.mkString(" ")) match {
          case Some(n) => println(s"[maintain] retention sweep: manifest m=$n complete")
          case None    => println("[maintain] retention sweep: nothing expired")
        }
        None
      case _ => throw new IllegalArgumentException(
        s"unknown maintenance op: $family $op (see Maintain scaladoc)")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Maintain <index|ivf|dedup|vstore> <op> <store-path> [keyCols...]")
    val Array(family, op, path) = args.take(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, family, op, path, args.drop(3).toSeq) match {
      case Some(report) =>
        val rows = report.collect()
        rows.foreach(r => println(s"[maintain] ${r.mkString("\t")}"))
        val bad = rows.map(r => r.getLong(r.fieldIndex("violations"))).sum
        if (bad > 0) {
          System.err.println(s"[maintain] $family fsck: $bad violation(s) at $path")
          spark.stop(); sys.exit(1)
        }
      case None => println(s"[maintain] $family $op: done")
    } finally spark.stop()
  }
}
