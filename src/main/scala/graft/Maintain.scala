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
  *
  * Every `advise` op runs one loop ([[adviseApply]]): the family's
  * advisor returns one report row, and with `apply`, when that row
  * counts violations, the family's heal runs and the re-advice is
  * returned instead, so the exit code reflects the healed store. The
  * heal is exactly the verb an operator would run by hand: index
  * `compact`, ivf `recluster`, the dedup hot-bucket self-dedup, a vstore
  * `checkpoint` at the newest version. A family supplies only its
  * advisor, its heal and its argument spec; numbers parse through one
  * typed reader ([[Nums]]) that fails with the op's usage text. This
  * object only routes: each family's store module owns its verb bodies.
  */
object Maintain {

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

  /** The one CLI number reader over an op's positional args: each token
    * parses as its declared type — Ints as Ints, so a token past the Int
    * range fails instead of wrapping — and must pass the op's range check;
    * a rejected token fails with the op's usage text, never a bare
    * NumberFormatException. */
  private final class Nums(usage: String, args: Seq[String]) {
    private def read[T](i: Int, parse: String => Option[T], ok: T => Boolean): Option[T] =
      args.lift(i).map(a => parse(a).filter(ok).getOrElse(
        throw new IllegalArgumentException(s"$usage (got '$a')")))
    def int(i: Int, ok: Int => Boolean = _ => true): Option[Int] =
      read(i, _.toIntOption, ok)
    def double(i: Int, ok: Double => Boolean = _ => true): Option[Double] =
      read(i, _.toDoubleOption, ok)
    def long(i: Int): Option[Long] = read(i, _.toLongOption, (_: Long) => true)
    def ints: Seq[Int] = args.indices.flatMap(int(_))
  }

  /** One family's face of the advise/apply loop: its advisor (one report
    * row with a `violations` column) and its heal, which gets the tokens
    * after `apply`. */
  private final case class Advisor(advise: () => DataFrame,
                                   heal: Seq[String] => Unit)

  /** The advise/apply loop every family shares. `apply` is the last
    * token, or with `healArgs` (vstore's key columns) the first `apply`
    * token; the tokens before it are the family's numbers, read against
    * `usage`. The advice is returned as is unless `apply` is given and
    * the advice counts violations: then the heal runs and the re-advice
    * is returned. */
  private def adviseApply(usage: String, extra: Seq[String],
                          healArgs: Boolean = false)(
      family: Nums => Advisor): Option[DataFrame] = {
    val at =
      if (healArgs) extra.indexOf("apply")
      else if (extra.lastOption.contains("apply")) extra.size - 1 else -1
    val f = family(new Nums(usage, if (at >= 0) extra.take(at) else extra))
    val advice = f.advise()
    if (at >= 0 && advice.collect()(0).getAs[Long]("violations") > 0) {
      f.heal(extra.drop(at + 1))
      Some(f.advise())
    } else Some(advice)
  }

  /** Dispatch one maintenance op; returns the report frame for fsck and
    * advise ops (None for mutations). Separated from [[main]] so the
    * smoke spec drives it in-process. */
  def run(spark: SparkSession, family: String, op: String, path: String,
          extra: Seq[String] = Seq.empty): Option[DataFrame] = {
    def keys: Seq[String] = {
      require(extra.nonEmpty,
        s"$family $op needs the store's key column(s) as trailing args")
      extra
    }
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
        operators.Frames.gc(spark, path, FrameTables(fam),
          retain = new Nums(s"$fam gc <path> [retain >= 0, default 1]", extra)
            .int(0, _ >= 0).getOrElse(1))
        None
      case ("index", "compact") => index.Indexer.compactStore(spark, path); None
      // fragmentation advisor (VERDICT r18 #6): exits nonzero exactly
      // when some leaf holds more than [maxFilesPerLeaf] data files;
      // `apply` runs the compact verb
      case ("index", "advise") =>
        adviseApply("index advise <path> [maxFilesPerLeaf >= 1, default 8] [apply]",
            extra) { n =>
          val maxFiles = n.int(0, _ >= 1).getOrElse(8)
          val dirs = Seq("postings", "doc_stats", "positional").map(t => s"$path/$t")
          Advisor(() => operators.Compaction.adviseCompaction(spark, dirs, maxFiles),
            _ => index.Indexer.compactStore(spark, path))
        }
      case ("ivf", "fsck")         => Some(similarity.IvfStore.checkStore(spark, path))
      // provenance→recluster advisor: violations=1 iff the range-only
      // provenance share exceeds [maxRangeFrac], so a cron `Maintain ivf
      // advise` exits nonzero exactly when recluster is due; `apply`
      // runs reclusterStore. It re-trains to the store's OWN current
      // centroid count (one ≤-nCentroids metadata read), never a
      // hardcoded default: an unattended cron loop re-training an
      // 8-centroid store to 16 silently changes probe selectivity and
      // recall (ADVICE r18); pass [nCentroids] to re-train to an
      // explicit k instead.
      case ("ivf", "advise") =>
        adviseApply("ivf advise <path> [maxRangeFrac 0..1, default 0.25] " +
            "[nCentroids] [apply]", extra) { n =>
          val frac = n.double(0).getOrElse(0.25)
          val explicitK = n.int(1)
          Advisor(() => similarity.IvfStore.adviseRecluster(spark, path, frac),
            _ => similarity.IvfStore.reclusterStore(spark, path,
              nCentroids = explicitK.getOrElse(FsOps.readParquet(spark,
                operators.Frames.resolve(spark, path, "centroids")).count().toInt)))
        }
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
        val nums = new Nums("ivf recluster <path> [nCentroids] [iters] [sampleMod]",
          extra).ints
        similarity.IvfStore.reclusterStore(spark, path,
          nCentroids = nums.headOption.getOrElse(16),
          kmeansIters = nums.lift(1).getOrElse(2),
          trainSampleMod = nums.lift(2).getOrElse(1))
        None
      // bucket-skew advisor (VERDICT r18 #6): exits nonzero exactly when
      // hot (band,bucket) groups exceed [maxBucketDocs]; `apply` runs
      // the self-dedup repair (dedupHotBuckets at [minJaccard], default
      // 0.8 — removal installs via the manifest frame)
      case ("dedup", "advise") =>
        adviseApply("dedup advise <path> [maxBucketDocs >= 1, default 32] " +
            "[minJaccard (0,1], default 0.8] [apply]", extra) { n =>
          val maxDocs = n.int(0, _ >= 1).getOrElse(32)
          val minJ = n.double(1, j => j > 0.0 && j <= 1.0).getOrElse(0.8)
          Advisor(() => dedup.DedupStore.adviseBucketSkew(spark, path, maxDocs), _ => {
            val removed = dedup.DedupStore.dedupHotBuckets(spark, path, minJ, maxDocs)
            println(s"[maintain] dedup advise apply: removed $removed duplicate doc(s)")
          })
        }
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
      case ("dedup", "compact") => dedup.DedupStore.compactStore(spark, path); None
      // replay-depth advisor: nonzero exit when reads at the newest
      // version replay more than [maxReplay] log commits past their
      // checkpoint base; `apply <keyCols...>` checkpoints at the newest
      // version (the keys are needed only when that heal runs)
      case ("vstore", "advise") =>
        val usage = "vstore advise <path> [maxReplay >= 1, default 8] [apply <keyCols...>]"
        adviseApply(usage, extra, healArgs = true) { n =>
          val maxReplay = n.int(0, _ >= 1).getOrElse(8)
          Advisor(() => streaming.VersionedStore.adviseCheckpoint(spark, path, maxReplay),
            keyCols => {
              require(keyCols.nonEmpty, s"$usage — apply needs the store's key column(s)")
              streaming.VersionedStore.checkpoint(spark, path,
                streaming.VersionedStore.newestVersion(spark, path), keyCols)
            })
        }
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
          version = new Nums("vstore repair-at needs a numeric <version> then " +
            "the store's key column(s)", extra).long(0))
        None
      case ("vstore", "checkpoint") =>
        // args: <version> <keyCols...> — materialize the snapshot so
        // later reads replay only the delta after it
        require(extra.length >= 2,
          "vstore checkpoint needs <version> then the store's key column(s)")
        streaming.VersionedStore.checkpoint(spark, path,
          new Nums("vstore checkpoint needs a numeric <version> then the store's " +
            "key column(s)", extra).long(0).get,
          extra.tail)
        None
      case ("vstore", "purge") =>
        // args: <idsParquet> <keyCols...> — right-to-be-forgotten through
        // time travel: rewrite every log commit and checkpoint without
        // the ids (vacuum drops whole versions; purge drops KEYS)
        require(extra.length >= 2,
          "vstore purge needs <idsParquet> then the store's key column(s)")
        val st = streaming.VersionedStore.purgeKeys(spark, path, extra.tail,
          FsOps.readParquet(spark, extra.head))
        println(s"[maintain] purged: logs ${st.logsRewritten.mkString(",")} " +
          s"checkpoints ${st.checkpointsRewritten.mkString(",")}")
        None
      case ("vstore", "vacuum") =>
        // args: <retain> — drop history not needed at versions >= retain
        require(extra.nonEmpty, "vstore vacuum needs <retainVersion>")
        streaming.VersionedStore.vacuum(spark, path,
          new Nums("vstore vacuum needs a numeric <retainVersion>", extra).long(0).get)
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
          FsOps.readParquet(spark, extra.head),
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
