package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** MULTI-TABLE ATOMIC TRANSACTIONS over the snapshot manifest layout —
  * the engine's analog of the reference's registration unit of work
  * (ref `register-omero.py:58-61`: a sample registration writes the
  * sample, its dataset, and their link as one transaction; partial
  * registrations must never be observable). The Iceberg-REST-catalog
  * multi-table-commit idea re-expressed on plain storage:
  *
  *   1. STAGE: each enrolled table writes its data files and delta
  *      manifest under an exclusively-claimed staging id (the normal
  *      publish mechanics), plus the full would-be version manifest as
  *      a PENDING file `manifest/p<uid>.txt` — invisible to every
  *      reader (version resolution only sees `v*.txt`). A crash here
  *      leaves only orphans ([[Snapshot.vacuumOrphans]] reclaims).
  *   2. COMMIT: ONE transaction manifest naming the N
  *      (table, stagingId, targetVersion) triples is published into the
  *      transaction LOG — itself a manifest-versioned directory, so the
  *      txn id is claimed and the file linked/renamed in with exactly
  *      the CAS primitive every table commit uses. That single atomic
  *      file publish is the transaction's commit point.
  *   3. FINALIZE: each pending manifest is published into its verified
  *      version slot. A crash between 2 and 3 is repaired by
  *      [[SnapshotTxn.recover]] — an idempotent roll-forward that any
  *      reader or writer of enrolled tables runs first
  *      ([[SnapshotTxn.readLatest]] bundles it), so a committed
  *      transaction's versions are observable even if the committer
  *      died a microsecond after the txn manifest landed.
  *
  * All-or-nothing: before the txn manifest exists, nothing is visible
  * (pendings aren't versions); after it exists, every enrolled table's
  * new version is either already final or rolled forward by the next
  * touch. There is no state in which table A shows the transaction and
  * table B can't be brought to show it.
  *
  * Isolation vs concurrent writers: commit verifies every staged
  * table's latest version still equals the staged base UNDER ALL the
  * tables' commit locks (sorted acquisition — deadlock-free), then
  * publishes the txn manifest and finalizes while still holding them —
  * so a same-driver writer can neither steal a slot mid-commit nor
  * observe half a transaction. A base that advanced between staging
  * and commit aborts the whole transaction with
  * [[Snapshot.ConcurrentSnapshotUpdate]] (staged bytes cleaned, claims
  * permanent) — retry against fresh bases. Writers that bypass the
  * txn-aware entry points between a commit and its recovery are the
  * one excluded interleaving: recovery detects the stolen slot and
  * fails LOUDLY rather than ever stacking the transaction's delta on
  * a base it wasn't built against.
  *
  * Scale shape: staging cost is each table's normal append cost
  * (delta bytes + O(versions) manifest lines); the commit adds one
  * K-line file publish for a K-table transaction — metadata-sized
  * however large the tables are. Retention: run [[recover]] before
  * [[Snapshot.vacuumOrphans]] on enrolled tables, with an age guard
  * exceeding the longest transaction (the same contract as in-flight
  * publishes); stale pendings older than that are crashed stagings
  * and reclaim with the other orphans.
  */
final class SnapshotTxn private (spark: SparkSession, txnRoot: String) {
  import SnapshotTxn._

  private case class Staged(destDir: String, uid: Int, base: Int,
                            content: Seq[String])
  private val staged = scala.collection.mutable.ListBuffer.empty[Staged]
  private var done = false

  /** Has any table been staged yet? (A streaming producer skips the
    * commit of an empty micro-batch — committing nothing is invalid.) */
  def hasStaged: Boolean = staged.nonEmpty

  private def conf = spark.sessionState.newHadoopConf()

  /** Stage a full PUBLISH of `df` as `destDir`'s next version (fresh
    * table or full rewrite — no carry). Data and the pending manifest
    * are written now; nothing becomes visible before [[commit]]. */
  def stagePublish(df: DataFrame, destDir: String,
                   statsCol: Option[String] = None,
                   tag: Option[String] = None): Unit =
    stage(df, destDir, carryForward = false, statsCol, tag)

  /** Stage an APPEND of `df` onto `destDir`'s current latest version
    * (carry-forward by reference, the O(delta) commit). The base is
    * pinned: if the table advances before [[commit]], the whole
    * transaction aborts rather than silently dropping the winner. */
  def stageAppend(df: DataFrame, destDir: String,
                  statsCol: Option[String] = None,
                  tag: Option[String] = None): Unit =
    stage(df, destDir, carryForward = true, statsCol, tag)

  /** Stage a MERGE-ON-READ upsert of `updates` into `destDir` (the
    * [[Snapshot.mergeSnapshotMoR]] semantics: whole-row replace by
    * `keyCol`, tombstone delete-set + batch files, zero base files
    * touched) as part of this transaction. This is what makes the
    * reference's mutate-and-register unit of work (a property upsert on
    * an EXISTING entity + a dataset registration, e.g.
    * `register-hlatyping.py:119-128`) expressible as ONE atomic commit:
    * the upsert-log lines ride the pending manifest and become visible
    * only at the transaction's commit point, together with every other
    * enrolled table. Same refusals as the direct path (bloom manifests,
    * key-column mismatch, null keys, dropped-column resurrection). */
  def stageMerge(updates: DataFrame, destDir: String, keyCol: String,
                 tag: Option[String] = None): Unit =
    stageMor(Some(updates), None, destDir, keyCol, tag)

  /** Stage a keyed MoR DELETE ([[Snapshot.deleteSnapshotMoR]]
    * semantics: commit only a tombstone delete-set) in this
    * transaction. */
  def stageDelete(keys: DataFrame, destDir: String, keyCol: String,
                  tag: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.col
    stageMor(None, Some(keys.select(col(keyCol)).distinct()), destDir,
      keyCol, tag)
  }

  /** Stage a predicate MoR DELETE ([[Snapshot.deleteSnapshotMoRWhere]]
    * semantics: `cond` evaluated against the RESOLVED current state
    * over a stats-pruned file subset, matching keys tombstoned) in this
    * transaction. The matched set is computed against the base pinned
    * HERE; the commit point verifies the base is unchanged, so the
    * predicate can never act on state it didn't see. Returns false —
    * enrolling nothing — when no row matches (the no-spurious-version
    * contract of the direct path). */
  def stageDeleteWhere(destDir: String, keyCol: String,
                       cond: org.apache.spark.sql.Column,
                       tag: Option[String] = None): Boolean = {
    import org.apache.spark.sql.functions.col
    stageMorWhere(destDir, keyCol, cond, tag) { current =>
      (None, Some(current.filter(cond).select(col(keyCol)).distinct()))
    }
  }

  /** Stage a predicate MoR UPDATE ([[Snapshot.updateSnapshotMoRWhere]]
    * semantics: SET expressions applied to the matching resolved rows,
    * committed as one upsert batch) in this transaction. Same pinned-
    * base rules as [[stageDeleteWhere]]; SET on the key refuses. */
  def stageUpdateWhere(destDir: String, keyCol: String,
                       cond: org.apache.spark.sql.Column,
                       set: Map[String, org.apache.spark.sql.Column],
                       tag: Option[String] = None): Boolean = {
    require(set.nonEmpty, "stageUpdateWhere needs SET expressions")
    require(!set.contains(keyCol),
      s"cannot SET the merge key '$keyCol': a key rewrite is a " +
        "delete + insert, not an update")
    stageMorWhere(destDir, keyCol, cond, tag) { current =>
      val updated = set.foldLeft(current.filter(cond)) {
        case (df, (name, expr)) => df.withColumn(name, expr)
      }
      (Some(updated), None)
    }
  }

  private def stageMorWhere(destDir: String, keyCol: String,
      cond: org.apache.spark.sql.Column, tag: Option[String])(
      build: DataFrame => (Option[DataFrame], Option[DataFrame])): Boolean = {
    require(!done, "transaction already committed or aborted")
    require(!staged.exists(_.destDir == destDir),
      s"$destDir is already staged in this transaction (one delta per " +
        "table per transaction)")
    val fs = new Path(destDir).getFileSystem(conf)
    val base = Snapshot.latestVersion(spark, destDir)
    require(base >= 1,
      s"stageDeleteWhere/stageUpdateWhere need an existing version " +
        s"under $destDir")
    val m = Snapshot.readManifest(spark, destDir, base)
    Snapshot.prunedCurrentState(spark, destDir, m, base, cond) match {
      case None => false // no file can hold a match: nothing to enroll
      case Some(current) =>
        val (updatesOpt, delKeysOpt) = build(current)
        Snapshot.morStage(updatesOpt, delKeysOpt, destDir, keyCol, tag,
            base, skipIfEmpty = true) match {
          case None => false // zero matching rows: nothing to enroll
          case Some((uid, content)) =>
            Snapshot.writeFileAtomic(fs, s"$destDir/manifest/p$uid.txt",
              s"$destDir/manifest/.tmp_v$uid", content)
            staged += Staged(destDir, uid, base, content)
            true
        }
    }
  }

  private def stageMor(updatesOpt: Option[DataFrame],
                       delKeysOpt: Option[DataFrame], destDir: String,
                       keyCol: String, tag: Option[String]): Unit = {
    require(!done, "transaction already committed or aborted")
    require(!staged.exists(_.destDir == destDir),
      s"$destDir is already staged in this transaction (one delta per " +
        "table per transaction)")
    val fs = new Path(destDir).getFileSystem(conf)
    val base = Snapshot.latestVersion(spark, destDir)
    // morStage claims the id, writes batch + delete-set files and
    // returns the would-be manifest content — identical to what a
    // direct mergeSnapshotMoR would CAS in, parked as a pending file
    val (uid, content) = Snapshot.morStage(updatesOpt, delKeysOpt,
      destDir, keyCol, tag, base).get
    Snapshot.writeFileAtomic(fs, s"$destDir/manifest/p$uid.txt",
      s"$destDir/manifest/.tmp_v$uid", content)
    staged += Staged(destDir, uid, base, content)
    ()
  }

  /** Stage the MoR LOG FOLD of `destDir`
    * ([[Snapshot.compactSnapshotMoRLog]] semantics: the accumulated
    * per-commit (batch, delete-set) pairs collapse into one winners +
    * union-delete-set pair at O(log bytes), zero base files touched)
    * as part of this transaction — STAGEABLE MAINTENANCE. Until now a
    * fold on an enrolled table had to commit BETWEEN transactions:
    * consistent (readers pin versions), but a data txn that depends on
    * the folded shape could not be made atomic with it. Staged here,
    * the fold's manifest parks as a pending file and becomes visible
    * at the transaction's ONE commit point together with every other
    * enrolled table's delta; the pinned base means a writer racing the
    * maintenance aborts the whole txn rather than stacking on a shape
    * it didn't see. Returns false — enrolling nothing — when ≤ 1 log
    * generation exists (the direct path's no-op contract). */
  def stageFold(destDir: String, tag: Option[String] = None): Boolean = {
    require(!done, "transaction already committed or aborted")
    require(!staged.exists(_.destDir == destDir),
      s"$destDir is already staged in this transaction (one delta per " +
        "table per transaction)")
    val fs = new Path(destDir).getFileSystem(conf)
    val base = Snapshot.latestVersion(spark, destDir)
    require(base >= 1, s"stageFold needs an existing version under $destDir")
    Snapshot.morFoldPlan(spark, destDir, base) match {
      case None => false
      case Some(p) =>
        val (uid, content) = Snapshot.morStage(Some(p.winners),
          Some(p.allKeys), destDir, p.keyCol, tag, base,
          carriedEntriesOverride = Some(p.carried),
          carriedRowsOverride = Some(p.baseRows)).get
        Snapshot.writeFileAtomic(fs, s"$destDir/manifest/p$uid.txt",
          s"$destDir/manifest/.tmp_v$uid", content)
        staged += Staged(destDir, uid, base, content)
        true
    }
  }

  /** Stage a SMALL-FILE COMPACTION of `destDir`
    * ([[Snapshot.compactSnapshot]] semantics: files under `minRows`
    * pack into ~`targetRows` files, big files carry verbatim — zero
    * row changes) as part of this transaction — the second stageable
    * maintenance primitive beside [[stageFold]]. Returns false when
    * ≤ 1 small file exists (the direct path's no-op contract).
    * Bloom-indexed tables take the indexed lane (r16): packed files
    * get fresh per-file words at stage time, carried big files keep
    * theirs verbatim, and the #bloom header rides the pending manifest
    * — point-read pruning survives the staged maintenance exactly as
    * it survives the direct [[Snapshot.compactSnapshot]]. */
  def stageCompact(destDir: String, minRows: Long, targetRows: Long,
                   tag: Option[String] = None): Boolean = {
    val base = Snapshot.latestVersion(spark, destDir)
    require(base >= 1,
      s"stageCompact needs an existing version under $destDir")
    Snapshot.compactPlan(spark, destDir, base, minRows, targetRows) match {
      case None => false
      case Some(p) =>
        stage(p.packed, destDir, carryForward = true, statsCol = None,
          tag, carriedEntriesOverride = Some(p.carried),
          carriedRowsOverride = Some(p.carriedRows),
          pinnedBase = Some(base), indexedMaintenance = true)
        true
    }
  }

  /** Stage a COPY-ON-WRITE RECONCILE of `destDir`'s merge-on-read log
    * ([[Snapshot.reconcileSnapshotMoR]] semantics: rewrite only the
    * base files holding a touched key, materialize the winning upsert
    * rows, drop every tombstone — the table leaves the transaction
    * pure copy-on-write) as part of this transaction — the third
    * stageable maintenance primitive beside [[stageFold]] and
    * [[stageCompact]]. This is the one that unlocks txn-atomic
    * POST-maintenance writes the MoR protocol itself refuses: e.g.
    * "reconcile A, then transactional-append to A" is invalid (one
    * delta per table per txn) but "reconcile A + append to B that
    * assumes A is CoW" commits as one unit. Returns false when the
    * version carries no tombstones. Bloom-indexed tables take the
    * indexed lane (r16): the rewritten delta gets fresh per-file words
    * at stage time, untouched base files keep theirs, the #bloom
    * header survives — point lookups stay live through txn-atomic
    * reconciles exactly as through the direct path. */
  def stageReconcile(destDir: String, tag: Option[String] = None): Boolean = {
    val base = Snapshot.latestVersion(spark, destDir)
    require(base >= 1,
      s"stageReconcile needs an existing version under $destDir")
    Snapshot.reconcilePlan(spark, destDir, base) match {
      case None => false
      case Some(p) =>
        stage(p.delta, destDir, carryForward = true, statsCol = None,
          tag, carriedEntriesOverride = Some(p.carried),
          carriedRowsOverride = Some(p.carriedRows),
          pinnedBase = Some(base), morAware = true,
          indexedMaintenance = true)
        true
    }
  }

  private def stage(df: DataFrame, destDir: String, carryForward: Boolean,
                    statsCol: Option[String], tag: Option[String],
                    carriedEntriesOverride: Option[Seq[String]] = None,
                    carriedRowsOverride: Option[Option[Long]] = None,
                    pinnedBase: Option[Int] = None,
                    morAware: Boolean = false,
                    indexedMaintenance: Boolean = false): Unit = {
    require(!done, "transaction already committed or aborted")
    require(!staged.exists(_.destDir == destDir),
      s"$destDir is already staged in this transaction (one delta per " +
        "table per transaction)")
    val fs = new Path(destDir).getFileSystem(conf)
    val base = Snapshot.latestVersion(spark, destDir)
    // a carried-override caller (stageCompact) computed its carry set
    // against a SPECIFIC base manifest; a commit racing in between
    // would make that set stale — refuse here (retryable), the same
    // contract the commit point's own base verify enforces later
    pinnedBase.foreach(pb => if (pb != base)
      throw new Snapshot.ConcurrentSnapshotUpdate(
        s"base of $destDir advanced v$pb -> v$base between a staged " +
          "maintenance plan and its staging; restage against the new " +
          "latest"))
    val prev =
      if (base >= 1) Some(Snapshot.readManifest(spark, destDir, base))
      else None
    if (carryForward) {
      require(base >= 1,
        s"stageAppend needs an existing version under $destDir")
      // a staged RECONCILE is the one carry-forward that understands
      // tombstones (its carried set excludes them and the delta
      // materializes the winners); every other carry-forward refuses
      if (!morAware) prev.foreach(m =>
        Snapshot.requireNoTombstones(m, destDir, base,
          "a transactional append"))
      // a plain stageAppend still refuses bloom-indexed bases (its
      // delta files would need fresh per-file words and the append
      // shape doesn't compute them); the MAINTENANCE stagings
      // (stageCompact / stageReconcile) take the indexed lane below —
      // carried files keep their words verbatim, staged files get
      // fresh ones, the #bloom header survives the txn (the direct
      // paths' commitIndexedDelta contract, staged)
      require(prev.forall(_.bloom.isEmpty) || indexedMaintenance,
        s"transactional appends do not preserve bloom manifests " +
          s"(v$base of $destDir); re-publish with publishSnapshotBloom " +
          "after the transaction")
      // same add-column-only evolution wall as appendSnapshot
      prev.flatMap(_.schema).foreach { ps =>
        ps.fields.foreach { f =>
          val cur = df.schema.fields.find(_.name == f.name)
          require(cur.exists(_.dataType == f.dataType),
            s"transactional append schema evolution is add-column only: " +
              s"'${f.name}: ${f.dataType.simpleString}' of v$base is " +
              cur.fold("missing")(c =>
                s"retyped to ${c.dataType.simpleString}") +
              " in the staged batch")
        }
      }
    }
    val dropped: Set[String] =
      if (carryForward) prev.map(_.droppedCols).getOrElse(Set.empty)
      else Set.empty
    val resurrected = df.columns.filter(dropped)
    require(resurrected.isEmpty,
      s"column(s) ${resurrected.mkString(", ")} were DROPPED from " +
        s"$destDir and cannot be re-added by a transactional append")
    // stats inherit like every carry-forward commit
    val statsCols: Seq[String] =
      if (statsCol.nonEmpty || !carryForward) statsCol.toSeq
      else prev.map(_.statsCols).getOrElse(Nil)
    // carried lines ride VERBATIM below, so their stats text must keep
    // meaning under this version's #stats header — a stats-list change
    // would need the strip pass; refuse it here (plain appendSnapshot
    // handles that case) rather than misread old min/max as the new
    // column's and lose rows to false pruning
    if (carryForward)
      prev.foreach(pm => require(pm.statsCols == statsCols,
        s"a transactional append cannot change the stats column list " +
          s"of $destDir (base: ${pm.statsCols.mkString(",")}; got: " +
          s"${statsCols.mkString(",")}); use appendSnapshot outside a " +
          "transaction for stats-changing appends"))
    // stage the delta under an exclusively-claimed id
    val uid = Snapshot.claimStagingId(fs, destDir, base + 1)
    val dataDir = new Path(s"$destDir/data/v$uid")
    df.write.mode("overwrite").parquet(dataDir.toString)
    val parts = fs.listStatus(dataDir)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(_.getPath).sortBy(_.getName)
    // indexed lane: the staged files' per-file bloom words — one
    // distributed pass over the delta dir (batch-sized), exactly what
    // the direct maintenance paths compute at commit time
    val bloomOpt: Option[(String, Int, Int)] =
      if (carryForward && indexedMaintenance) prev.flatMap(_.bloom)
      else None
    val wordsOpt: Option[(Map[String, String], String)] =
      bloomOpt.map { case (bc, mBits, kk) =>
        val nWords =
          (mBits + Sketches.BloomWordBits - 1) / Sketches.BloomWordBits
        (Snapshot.perFileBloomWords(spark, dataDir.toString, bc, mBits, kk),
          Array.fill(nWords)(0L).mkString(","))
      }
    val linesAndRows: Seq[(String, Long)] = {
      import scala.collection.parallel.CollectionConverters._
      parts.par.map { p =>
        val rel = s"data/v$uid/${p.getName}"
        val (rows, mm) = Snapshot.footerStats(conf, p, statsCols)
        val noStats =
          statsCols.isEmpty || mm.exists { case (mn, mx) => mn > mx }
        val statsTxt =
          if (noStats) None
          else Some(s"$rows\t" +
            mm.map { case (mn, mx) => s"$mn\t$mx" }.mkString("\t"))
        // indexed lines ALWAYS carry the row count (`path\trows\twords`
        // / `path\trows\tstats…\twords` — commitIndexedDelta's shapes)
        val line = wordsOpt match {
          case Some((ws, emptyW)) =>
            val w = ws.getOrElse(p.getName, emptyW)
            statsTxt.fold(s"$rel\t$rows\t$w")(st => s"$rel\t$st\t$w")
          case None => statsTxt.fold(rel)(st => s"$rel\t$st")
        }
        (line, rows)
      }.seq.toSeq
    }
    val deltaRows = linesAndRows.map(_._2).sum
    // carried lines stay verbatim (stats inherited, bloom refused), so
    // the pending manifest is O(versions + delta) like any append; the
    // overrides are [[stageCompact]]'s hook — it carries only the BIG
    // entries and re-writes the small rows as the staged delta
    val carried: Seq[String] =
      if (carryForward)
        carriedEntriesOverride.getOrElse(
          prev.map(_.entries).getOrElse(Seq.empty))
      else Seq.empty
    val carriedRows: Option[Long] =
      if (carryForward) carriedRowsOverride.getOrElse(prev.flatMap(_.rowsHeader))
      else Some(0L)
    val deltaEntry =
      if (linesAndRows.isEmpty) Seq.empty
      else {
        Snapshot.writeFileAtomic(fs, s"$destDir/manifest/d$uid.txt",
          s"$destDir/manifest/.dtmp_v$uid", linesAndRows.map(_._1))
        Seq(s"@manifest/d$uid.txt")
      }
    val schemaHeader =
      s"#schema=${org.apache.spark.sql.types.StructType(
        df.schema.fields.map(_.copy(nullable = true))).json}"
    val header = schemaHeader +:
      ((if (statsCols.isEmpty) Seq.empty
        else Seq(s"#stats=${statsCols.mkString(",")}")) ++
        bloomOpt.map { case (bc, mb, kk) => s"#bloom=$bc,$mb,$kk" }.toSeq ++
        tag.map(t => s"#tag=$t").toSeq ++
        (if (dropped.isEmpty) Seq.empty
         else Seq(s"#dropped=${dropped.toSeq.sorted.mkString(",")}")) ++
        carriedRows.map(cr => s"#rows=${cr + deltaRows}").toSeq)
    val content = header ++ carried ++ deltaEntry
    // the PENDING manifest: full version content at a name no reader
    // resolves; the txn commit point flips it visible via the txn log
    Snapshot.writeFileAtomic(fs, s"$destDir/manifest/p$uid.txt",
      s"$destDir/manifest/.tmp_v$uid", content)
    staged += Staged(destDir, uid, base, content)
    ()
  }

  /** Abort: delete the staged bytes and pending manifests (claims are
    * permanent, as everywhere). A never-committed transaction was never
    * visible, so this is pure hygiene — a crash instead of an abort
    * leaves the same invisible state for vacuumOrphans. */
  def abort(): Unit = {
    staged.foreach { s =>
      val fs = new Path(s.destDir).getFileSystem(conf)
      fs.delete(new Path(s"${s.destDir}/data/v${s.uid}"), true)
      fs.delete(new Path(s"${s.destDir}/data/v${s.uid}_del"), true)
      fs.delete(new Path(s"${s.destDir}/manifest/d${s.uid}.txt"), false)
      fs.delete(new Path(s"${s.destDir}/manifest/p${s.uid}.txt"), false)
    }
    staged.clear()
    done = true
  }

  /** Commit every staged table atomically. Returns table → committed
    * version. Aborts the WHOLE transaction with
    * [[Snapshot.ConcurrentSnapshotUpdate]] if any table advanced past
    * its staged base (retry: restage against fresh bases). `tag` rides
    * the TXN MANIFEST itself (whose publish IS the commit point), so
    * "did transaction t commit with tag x" is an atomic question —
    * what lets a streaming producer make commit-per-micro-batch
    * exactly-once ([[graft.streaming.Ingest.txnStream]]'s replay
    * guard, the [[Snapshot.versionTag]] pattern lifted to the log). */
  def commit(tag: Option[String] = None): Map[String, Int] = {
    val out = staged.map(s => s.destDir -> (s.base + 1)).toMap
    commitPoint(finalize = true, tag = tag)
    out
  }

  /** The atomic commit point alone — publishes the txn manifest but
    * SKIPS finalization, simulating a committer that died right after
    * the commit point. Kill-injection seam for the recovery specs;
    * production code calls [[commit]]. */
  private[graft] def commitNoFinalize(tag: Option[String] = None): Int =
    commitPoint(finalize = false, tag = tag)

  /** [[commit]] WITHOUT the entry recovery pass — the kill-injection
    * seam for the recovered-through watermark's soundness: it simulates
    * a committer whose entry recover ran BEFORE a racing commit landed
    * (the recover outside the locks). The guarded advance below must
    * then leave the marker BEHIND the unfinalized txn rather than
    * burying it. Specs only; production code calls [[commit]]. */
  private[graft] def commitNoEntryRecover(): Map[String, Int] = {
    val out = staged.map(s => s.destDir -> (s.base + 1)).toMap
    commitPoint(finalize = true, entryRecover = false)
    out
  }

  private def qualified(d: String): String =
    new Path(d).getFileSystem(conf).makeQualified(new Path(d)).toString

  private def commitPoint(finalize: Boolean, tag: Option[String] = None,
                          entryRecover: Boolean = true): Int = {
    require(!done, "transaction already committed or aborted")
    require(staged.nonEmpty, "nothing staged")
    val rootFs = new Path(txnRoot).getFileSystem(conf)
    // roll forward earlier committed txns first: latestVersion of an
    // enrolled table is only meaningful once pending finalizations land
    if (entryRecover) SnapshotTxn.recover(spark, txnRoot)
    // LOCK NESTING ORDER: the txn-log lock FIRST (alone), the staged
    // tables' locks inside it. The log lock serializes commit points
    // outright, and recovery must run inside it but OUTSIDE the table
    // locks: recover() finalizes OTHER transactions' tables, and
    // acquiring an arbitrary table's lock while holding one's own
    // sorted table set deadlocks against a committer whose set
    // contains that table (it holds it while waiting for the log
    // lock). With this order no cycle exists — table-lock holders
    // (plain publishes, a recoverer's per-table finalize) never wait
    // on the log lock while holding a table lock.
    Snapshot.withCommitLocks(Seq(qualified(txnRoot))) {
      // WRITER FENCE (cross-process exclusion): the in-JVM commit locks
      // serialize same-driver writers completely, but two DRIVER JVMs on
      // one log would race the base-verify window with only the manifest
      // CAS between them — and a lost race there doesn't abort cleanly,
      // it commits a txn whose finalize hits a stolen slot (loud but
      // manual-repair). So the single-driver contract is ENFORCED, not
      // assumed: every commit verifies this JVM holds the log's writer
      // epoch, refusing loudly when another driver claimed it.
      SnapshotTxn.verifyWriter(spark, rootFs, txnRoot, qualified(txnRoot))
      // recover AGAIN under the log lock: the entry pass ran outside
      // it, so a txn that committed in between — and whose committer
      // died before finalizing — may still be invisible in
      // latestVersion. Without this, the base checks below validate
      // against stale state and THIS commit can take the same target
      // slot, which the dead txn's eventual roll-forward then reports
      // as stolen (the soak's race: writer A commitNoFinalize's txn k
      // while writer B waits here with a pre-k recovery). Warm cost is
      // O(txns since the entry pass + 1) probes — metadata-sized.
      // No new commit can land between this pass and ours: every
      // commit point holds the log lock. The commitNoEntryRecover seam
      // skips BOTH passes by design (it exists to exercise the guarded
      // marker advance below).
      if (entryRecover) SnapshotTxn.recover(spark, txnRoot)
      Snapshot.withCommitLocks(staged.map(s => qualified(s.destDir)).toSeq) {
      // verify every pinned base under the locks — after this, no
      // same-driver writer can take any enrolled slot until we're done
      staged.toList.foreach { s =>
        val cur = Snapshot.latestVersion(spark, s.destDir)
        if (cur != s.base) {
          val stale = staged.toList
          staged.clear(); done = true
          stale.foreach { t =>
            val fs = new Path(t.destDir).getFileSystem(conf)
            fs.delete(new Path(s"${t.destDir}/data/v${t.uid}"), true)
            fs.delete(new Path(s"${t.destDir}/data/v${t.uid}_del"), true)
            fs.delete(new Path(s"${t.destDir}/manifest/d${t.uid}.txt"), false)
            fs.delete(new Path(s"${t.destDir}/manifest/p${t.uid}.txt"), false)
          }
          throw new Snapshot.ConcurrentSnapshotUpdate(
            s"base of ${s.destDir} advanced v${s.base} -> v$cur during a " +
              "multi-table transaction; restage against the new latest")
        }
      }
      val lines = staged.map(s =>
        s"${s.destDir}\t${s.uid}\t${s.base + 1}").toSeq
      // slots come off latestTxn, NOT the raw manifest listing: after a
      // full-log vacuum the listing reads 0 and a listing-based slot
      // would RE-USE a pruned txn id (the marker/snapshot floor in
      // latestTxn is what keeps txn ids monotone across pruning)
      val id = Snapshot.claimStagingId(rootFs, txnRoot,
        SnapshotTxn.latestTxn(spark, txnRoot) + 1)
      // PRE-CAS FENCE RE-VERIFY: the fence check at the top of this
      // block ran before recovery and the base verifies — real work a
      // cross-process takeover can land DURING (the in-JVM locks don't
      // exclude another driver). Re-reading the writer file here — one
      // small-file read, already under the log lock — shrinks the r15
      // residual window ("a commit already past its fence check runs
      // to its CAS") to the irreducible rename race: a takeover landing
      // after THIS read but before the rename below still commits,
      // which a plain file-rename CAS cannot exclude without a
      // server-side conditional write; that residue is one read-to-
      // rename instruction window, not a whole commit's staging work.
      SnapshotTxn.preCasHook.foreach(_.apply())
      SnapshotTxn.verifyWriter(spark, rootFs, txnRoot, qualified(txnRoot))
      // THE commit point: one atomic file publish into the txn log
      // (the log is a manifest-versioned dir, so this is the same
      // claim + link/rename CAS as every table commit)
      var slot = SnapshotTxn.latestTxn(spark, txnRoot) + 1
      while (!Snapshot.tryCommitManifest(rootFs, txnRoot, slot, id,
          Seq(s"#txn=${staged.length}") ++
            tag.map(t => s"#tag=$t").toSeq ++ lines))
        slot += 1
      done = true
      // finalize UNDER the same locks: no same-driver writer can slip a
      // commit between the transaction's commit point and its versions
      // landing (the cross-crash window is recover()'s job)
      if (finalize) {
        SnapshotTxn.finalizeCommitted(spark, txnRoot, slot)
        // GUARDED advance: the entry recover ran OUTSIDE these locks, so
        // a txn that committed in between — and whose own finalize then
        // failed (transient FS error, stolen slot on one table) — may
        // sit unfinalized BELOW this slot. Advancing past it would bury
        // it under the marker forever (recover never rescans below the
        // marker; readLatest would silently miss its versions). Advance
        // only through a verified-contiguous finalized prefix: the
        // marker must already stand at slot - 1. When it doesn't, leave
        // it — the next recover() rescans from the marker, rolls the
        // straggler forward, and catches the marker up.
        if (SnapshotTxn.recoveredThrough(spark, txnRoot) == slot - 1)
          SnapshotTxn.advanceRecovered(spark, rootFs, txnRoot, slot)
      }
      slot
      }
    }
  }
}

object SnapshotTxn {
  /** Open a transaction against the given transaction-log directory.
    * Tables enrolled in a log form one atomicity domain: all their
    * transactional writers and readers name the same `txnRoot`.
    *
    * RESTART CONTRACT (writer fencing, r15): a log remembers its
    * writer epoch in `manifest/writer.txt`, and every commit point
    * verifies THIS JVM holds it. A virgin log auto-claims at its first
    * commit; a NEW driver JVM committing to an EXISTING log — including
    * the common sequential pattern of short-lived batch jobs, one
    * after another — must claim the epoch first or its first commit
    * refuses loudly. Either call [[claimWriter]] once at startup, or
    * open with [[begin(spark:org\.apache\.spark\.sql\.SparkSession,txnRoot:String,claim:Boolean)* begin(spark, txnRoot, claim = true)]],
    * which performs the takeover automatically when this JVM does not
    * already hold the epoch. ([[graft.streaming.Ingest.txnStream]]
    * claims at stream start for the same reason.) */
  def begin(spark: SparkSession, txnRoot: String): SnapshotTxn =
    new SnapshotTxn(spark, txnRoot)

  /** [[begin]] with the restart contract handled: `claim = true`
    * claims the log's writer epoch when this JVM does not already hold
    * it — the convenience for sequential single-writer deployments
    * (short-lived batch-job JVMs committing to one log, one at a
    * time), where every restart is a legitimate takeover by
    * definition. Still safe against a predecessor that is actually
    * alive: it is fenced at its next commit point, exactly as an
    * explicit [[claimWriter]] would fence it — but if a LIVE zombie
    * should keep priority instead, use the claimless [[begin]] and
    * decide the takeover deliberately. `claim = false` is the plain
    * [[begin]]. */
  def begin(spark: SparkSession, txnRoot: String,
            claim: Boolean): SnapshotTxn = {
    if (claim) {
      val rootFs = new Path(txnRoot).getFileSystem(
        spark.sessionState.newHadoopConf())
      val key = rootFs.makeQualified(new Path(txnRoot)).toString
      val cur = readWriterFile(rootFs, txnRoot)
      // only an existing log held by someone else needs the takeover:
      // a virgin log auto-claims at the first commit, and re-claiming
      // an epoch this JVM already holds would only churn the file
      if (cur.isDefined && !cur.contains(writerEpochs.get(key))) {
        claimWriter(spark, txnRoot); ()
      }
    }
    new SnapshotTxn(spark, txnRoot)
  }

  // ---------------------------------------------------- writer fencing
  /** This JVM's writer identity (stable for the process lifetime). */
  private val jvmOwner: String = java.util.UUID.randomUUID().toString

  /** Injection seam for the pre-CAS fence re-verify: runs between a
    * commit's staging-id claim and its final writer check, where a
    * cross-process takeover is hardest to catch. Specs only. */
  @volatile private[graft] var preCasHook: Option[() => Unit] = None

  /** The writer epochs THIS JVM holds, by qualified log root. */
  private val writerEpochs =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()

  private def readWriterFile(rootFs: org.apache.hadoop.fs.FileSystem,
                             txnRoot: String): Option[(Long, String)] = {
    val p = new Path(s"$txnRoot/manifest/writer.txt")
    if (!rootFs.exists(p)) None
    else Snapshot.readTextLines(rootFs, p.toString).headOption.map { l =>
      val f = l.split("\t")
      require(f.length == 2, s"malformed writer file in $txnRoot: $l")
      (f(0).toLong, f(1))
    }
  }

  /** CLAIM the log's writer epoch for this JVM — the explicit takeover
    * a NEW driver performs on a log a previous driver wrote (a virgin
    * log auto-claims at its first commit; [[graft.streaming.Ingest
    * .txnStream]] claims at stream start, the Kafka-producer-epoch
    * fencing pattern). The claim bumps the epoch in
    * `manifest/writer.txt` (one atomic file replace); the PREVIOUS
    * driver — if actually still alive — is fenced at its next commit
    * point, which reads the file under the log lock and refuses on an
    * epoch/owner it doesn't hold. Ownership under a claim race is
    * decided by the file: both racers bump, one rename lands last, and
    * only the JVM whose (epoch, owner) the file carries passes
    * [[verifyWriter]] — the other refuses. Claim ONLY when the prior
    * driver is known dead or is this same application restarting; two
    * drivers claiming in alternation fence each other loudly (by
    * design — the log's contract is ONE writer driver at a time, with
    * readers/recovery unrestricted).
    *
    * The residual window this protocol accepts (and names): a commit
    * already PAST its fence check when the takeover lands still runs
    * to its CAS — the same exposure as before fencing existed, now
    * confined to one in-flight commit instead of the steady state.
    * Returns the claimed epoch. */
  def claimWriter(spark: SparkSession, txnRoot: String,
                  owner: String = jvmOwner): Long = {
    val rootFs = new Path(txnRoot).getFileSystem(
      spark.sessionState.newHadoopConf())
    val key = rootFs.makeQualified(new Path(txnRoot)).toString
    Snapshot.withCommitLocks(Seq(key)) {
      val next = readWriterFile(rootFs, txnRoot).map(_._1).getOrElse(0L) + 1
      Snapshot.writeFileAtomic(rootFs, s"$txnRoot/manifest/writer.txt",
        s"$txnRoot/manifest/.writer_tmp", Seq(s"$next\t$owner"))
      writerEpochs.put(key, (next, owner))
      next
    }
  }

  /** The fence check every commit point (and vacuum) runs under the
    * log lock: a virgin log auto-claims epoch 1; otherwise the file's
    * (epoch, owner) must be one this JVM claimed. */
  private[graft] def verifyWriter(spark: SparkSession,
                                  rootFs: org.apache.hadoop.fs.FileSystem,
                                  txnRoot: String, key: String): Unit =
    readWriterFile(rootFs, txnRoot) match {
      case None =>
        Snapshot.writeFileAtomic(rootFs, s"$txnRoot/manifest/writer.txt",
          s"$txnRoot/manifest/.writer_tmp", Seq(s"1\t$jvmOwner"))
        writerEpochs.put(key, (1L, jvmOwner))
      case Some((e, o)) =>
        val held = writerEpochs.get(key)
        if (held == null || held != ((e, o)))
          throw new IllegalStateException(
            s"txn log $txnRoot is held by writer epoch $e (owner $o), " +
              "which this driver does not hold" +
              (if (held == null) "" else s" (it held epoch ${held._1})") +
              ". One driver JVM writes a txn log at a time; if the " +
              "holding driver is dead (or this is its restart), take " +
              "over explicitly with SnapshotTxn.claimWriter(txnRoot) — " +
              "a live holder will then be fenced at its next commit.")
    }

  /** Roll every committed-but-unfinalized transaction forward:
    * idempotent, safe to run any time, REQUIRED before trusting
    * latestVersion of an enrolled table after an unclean shutdown
    * ([[readLatest]] bundles it). Returns the number of version
    * manifests published. A version slot stolen by a non-transactional
    * writer between a commit and its recovery fails loudly — the
    * transaction's carry was built against a base that no longer
    * exists, and stacking it would drop the interloper's delta. */
  def recover(spark: SparkSession, txnRoot: String): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val rootFs = new Path(txnRoot).getFileSystem(conf)
    var n = 0
    // the txn head is found by PROBING UPWARD from the watermark, not by
    // listing the manifest dir: commit slots are contiguous (the CAS
    // loop takes the first free slot), so the warm path pays O(new
    // txns + 1) exists() calls — a directory listing would silently
    // reintroduce the O(all txns) read cost the watermark removes
    val wm = recoveredThrough(spark, txnRoot)
    // cold path (no marker yet): a LISTING finds the head — probing
    // from 0 would miss everything on a log whose prefix was pruned by
    // vacuumTxnLog; the cold pass is O(all) anyway, one listing is free
    var latest =
      if (wm == 0) Snapshot.latestVersion(spark, txnRoot)
      else wm
    while (rootFs.exists(new Path(s"$txnRoot/manifest/v${latest + 1}.txt")))
      latest += 1
    // recovered-through HIGH-WATER MARK: every txn <= the marker is
    // fully finalized, so the scan starts past it — recover (and with
    // it readLatest/commitPoint) is O(new txns), not O(all txns ever
    // committed). Advanced only AFTER a txn's every table published
    // (rename-committed like the CDC watermark); a crash mid-finalize
    // leaves the marker behind and the rescan is idempotent.
    val from = wm + 1
    var through = from - 1
    (from to latest).foreach { k =>
      if (rootFs.exists(new Path(s"$txnRoot/manifest/v$k.txt"))) {
        n += finalizeCommitted(spark, txnRoot, k)
        through = k
      }
    }
    // ONE marker write per recover call (not per txn): a crash mid-scan
    // leaves the old marker and the idempotent rescan repeats — progress
    // durability traded for O(1) writes on the catch-up path
    if (through >= from) advanceRecovered(spark, rootFs, txnRoot, through)
    n
  }

  /** The highest txn id known fully finalized (0 when none). Every txn
    * at or below it needs no recovery scan.
    *
    * The marker is rewritten by delete-then-rename, so a read can land
    * while it is absent. That reads as 0, which is always safe: callers
    * treat it as "rescan from the start" or "do not advance". On a
    * checksummed store the data file and its checksum file are renamed
    * one after the other, so a read can also pair the data of one
    * rewrite with the checksum of the next; that read is retried, and a
    * mismatch that persists is real corruption and throws. */
  def recoveredThrough(spark: SparkSession, txnRoot: String): Int = {
    val rootFs = new Path(txnRoot).getFileSystem(
      spark.sessionState.newHadoopConf())
    val p = s"$txnRoot/manifest/recovered"
    def read(attempts: Int): Int =
      try Snapshot.readTextLines(rootFs, p).head.trim.toInt
      catch {
        case _: java.io.FileNotFoundException => 0
        case _: org.apache.hadoop.fs.ChecksumException if attempts > 1 =>
          read(attempts - 1)
      }
    read(3)
  }

  private def advanceRecovered(spark: SparkSession,
                               rootFs: org.apache.hadoop.fs.FileSystem,
                               txnRoot: String, k: Int): Unit =
    Snapshot.withCommitLocks(Seq(
        rootFs.makeQualified(new Path(txnRoot)).toString)) {
      if (recoveredThrough(spark, txnRoot) < k)
        Snapshot.writeFileAtomic(rootFs, s"$txnRoot/manifest/recovered",
          s"$txnRoot/manifest/.recovered_tmp", Seq(k.toString))
    }

  /** Cross-table READ SNAPSHOT through the transaction log: the version
    * each enrolled table had committed through txn `k` — the (table →
    * version) fold of txn manifests 1..k. A reader that resolves every
    * table it touches against ONE txn id can never observe half a
    * transaction, however many commits race past it ([[readLatest]]
    * gives write atomicity only: two sequential readLatest calls may
    * straddle a commit). Contract (same as [[recover]]'s): writes to
    * enrolled tables route through SnapshotTxn — a bypassing writer's
    * versions are invisible to the log and simply not part of any txn
    * snapshot. O(k) driver manifest reads — txn manifests are K-line
    * files; pass `sinceTxn` to fold a tail onto a cached prefix when
    * polling. */
  def asOfTxn(spark: SparkSession, txnRoot: String, k: Int,
              sinceTxn: Int = 0,
              prefix: Map[String, Int] = Map.empty): Map[String, Int] = {
    val latest = latestTxn(spark, txnRoot)
    require(k >= 1 && k <= latest,
      s"txn $k does not exist in $txnRoot (committed txns: 1..$latest)")
    recover(spark, txnRoot) // versions through k must be finalized
    val rootFs = new Path(txnRoot).getFileSystem(
      spark.sessionState.newHadoopConf())
    // a caller with no cached prefix starts from the log's own FOLD
    // SNAPSHOT when one covers the range ([[vacuumTxnLog]] writes the
    // (table → version) fold of everything it prunes): the fold cost
    // becomes O(txns since the last vacuum) instead of O(all txns ever),
    // and a PRUNED prefix stops being fatal — snapshots through any
    // retained txn keep resolving after vacuum
    val (from0, pre0) =
      if (sinceTxn > 0 || prefix.nonEmpty) (sinceTxn, prefix)
      else foldSnapshot(rootFs, txnRoot, k)
        .getOrElse((sinceTxn, prefix))
    ((from0 + 1) to k).foldLeft(pre0) { (acc, i) =>
      require(rootFs.exists(new Path(s"$txnRoot/manifest/v$i.txt")),
        s"txn $i of $txnRoot was pruned by vacuumTxnLog — a " +
          s"txn-consistent snapshot through txn $k cannot be resolved " +
          "(fold from a cached prefix via sinceTxn, or keep more log)")
      Snapshot.readManifest(spark, txnRoot, i).entries.foldLeft(acc) {
        (a, line) =>
          val f = line.split("\t")
          require(f.length == 3,
            s"malformed txn line in $txnRoot v$i: $line")
          val v = f(2).toInt
          a.updated(f(0), math.max(v, a.getOrElse(f(0), 0)))
      }
    }
  }

  /** The newest committed transaction id (0 when none) — the `k` a
    * consistent multi-table reader pins before resolving tables via
    * [[asOfTxn]]/[[readAsOfTxn]].
    *
    * Found by PROBING UPWARD from the recovered-through marker, never
    * by listing the manifest directory on the warm path: commit slots
    * are contiguous above the marker (the CAS loop takes the first
    * free slot and the marker only advances over committed txns), so
    * the warm cost is O(txns above the marker + 1) exists() calls — a
    * directory listing is O(all manifests ever), which the txncdcscale
    * rehearsal measured as the dominant per-pump cost on a 10⁴-txn log
    * (every consumer window asks for the head). The cold path (no
    * marker) lists once and also consults the vacuum fold snapshot —
    * both survive pruning and lower-bound the true head, so a
    * fully-pruned log can never under-report (a commit assigning ids
    * off a bare listing would RE-USE pruned txn ids, corrupting the
    * log's monotone-id invariant). */
  def latestTxn(spark: SparkSession, txnRoot: String): Int = {
    val rootFs = new Path(txnRoot).getFileSystem(
      spark.sessionState.newHadoopConf())
    val wm = recoveredThrough(spark, txnRoot)
    var head =
      if (wm > 0) wm
      else math.max(Snapshot.latestVersion(spark, txnRoot),
        snapshotIds(rootFs, txnRoot).headOption.getOrElse(0))
    while (rootFs.exists(new Path(s"$txnRoot/manifest/v${head + 1}.txt")))
      head += 1
    head
  }

  /** PRUNE the transaction log: delete txn manifests below `keepFrom`.
    * Bounds the cold catch-up scan a fresh driver pays on an old log
    * (the warm path is already O(new) via the recovered-through
    * marker) and the [[asOfTxn]] fold. Only FULLY-FINALIZED txns may
    * go — `keepFrom` is capped at recovered-through + 1 AND at the head
    * txn, so a committed-but-unrecovered txn can never lose the
    * manifest its roll-forward needs (the txn retention contract) and
    * the head manifest — the streaming replay tag's carrier — always
    * survives.
    *
    * Before anything is deleted, the (table → version) FOLD of the
    * pruned prefix is persisted as `manifest/snap_<k>.txt` (k = the
    * last pruned txn) under the log's commit lock — so [[asOfTxn]] of
    * any RETAINED txn keeps resolving (it starts from the snapshot and
    * folds only retained manifests), and incremental consumers
    * ([[SnapshotTxnCdc]]) survive pruning even on a cold bootstrap.
    * Only txns BELOW the oldest snapshot become unresolvable — the
    * same deal table vacuum offers time travel. Returns the number of
    * manifests removed. */
  def vacuumTxnLog(spark: SparkSession, txnRoot: String,
                   keepFrom: Int): Int = {
    require(keepFrom >= 1, s"keepFrom must be >= 1 (got $keepFrom)")
    val conf = spark.sessionState.newHadoopConf()
    val rootFs = new Path(txnRoot).getFileSystem(conf)
    // the HEAD txn's manifest is never pruned: it keeps the log's
    // directory listing honest for marker-less readers (and is usually
    // the streaming producer's own last batch tag, making the replay
    // watermark scan in [[lastTagged]] a single manifest read)
    //
    // EVERYTHING below — the safe/covered computation, the prefix fold,
    // the snapshot write and the deletes — runs as ONE critical section
    // under the log's commit lock: two concurrent vacuums (or a vacuum
    // racing a commit's marker advance) serialize instead of one
    // deleting a manifest mid-way through the other's fold. Reentrancy
    // is sound: recover()/asOfTxn() inside re-take the log lock on the
    // same thread (JVM monitors are reentrant) and acquire table locks
    // strictly INSIDE the log lock — the sanctioned nesting order.
    Snapshot.withCommitLocks(Seq(
        rootFs.makeQualified(new Path(txnRoot)).toString)) {
      // maintenance is writer-side work: the same fence as the commit
      // point, so a non-holding driver's vacuum refuses loudly instead
      // of racing the holder's commits
      verifyWriter(spark, rootFs, txnRoot,
        rootFs.makeQualified(new Path(txnRoot)).toString)
      val safe = math.min(keepFrom,
        math.min(recoveredThrough(spark, txnRoot) + 1,
          latestTxn(spark, txnRoot)))
      if (safe <= 1) 0
      else {
        // when an EXISTING snapshot already covers the boundary (a re-run
        // at or below a previous vacuum's keepFrom — or a crash between
        // that vacuum's snapshot write and its deletes), skip the fold
        // (re-folding would refuse on already-pruned ids; the old snapshot
        // subsumes it) but STILL sweep the manifests below `safe`: a
        // crashed predecessor may have left stragglers behind its snapshot
        val prevSnap = snapshotIds(rootFs, txnRoot).headOption.getOrElse(0)
        val covered = safe - 1 <= prevSnap
        // the fold of txns 1..safe-1, computed while their manifests still
        // exist (asOfTxn itself resumes from any OLDER snapshot, so chained
        // vacuums each fold only their own increment)
        val folded = if (covered) Map.empty[String, Int]
          else asOfTxn(spark, txnRoot, safe - 1)
        if (!covered) {
          // TAG WATERMARKS of the pruned prefix ride the snapshot as
          // `#tagwm=` header lines: for every `name=`-shaped tag among
          // the pruned txns, the full tag carried by the HIGHEST pruned
          // txn (older snapshots' watermarks carry forward unless
          // outranked). This is what keeps [[lastTagged]] — the
          // streaming replay guard — decidable after a tag's carrier
          // manifest is pruned: without it, vacuuming a buried
          // `batch=<j>` tag would turn a replayed batch into a silent
          // double-commit.
          val inherited: Map[String, String] =
            if (prevSnap == 0) Map.empty
            else snapTagWms(rootFs, txnRoot, prevSnap)
          val wms = ((prevSnap + 1) until safe).foldLeft(inherited) {
            (acc, k) =>
              Snapshot.versionTag(spark, txnRoot, k) match {
                case Some(t) if t.indexOf('=') > 0 =>
                  acc.updated(t.substring(0, t.indexOf('=') + 1), t)
                case _ => acc
              }
          }
          Snapshot.writeFileAtomic(rootFs,
            s"$txnRoot/manifest/snap_${safe - 1}.txt",
            s"$txnRoot/manifest/.snap_tmp",
            wms.toSeq.sortBy(_._1).map { case (_, t) => s"#tagwm=$t" } ++
              folded.toSeq.sortBy(_._1).map { case (t, v) => s"$t\t$v" })
        }
        val n = (1 until safe).count { k =>
          rootFs.delete(new Path(s"$txnRoot/manifest/v$k.txt"), false)
        }
        // older snapshots are subsumed by the newest one
        val newest = snapshotIds(rootFs, txnRoot).headOption.getOrElse(0)
        snapshotIds(rootFs, txnRoot).filter(_ < newest).foreach { k =>
          rootFs.delete(new Path(s"$txnRoot/manifest/snap_$k.txt"), false)
        }
        n
      }
    }
  }

  /** The `#tagwm=` watermark lines of a fold snapshot, keyed by the
    * tag's `name=` prefix. */
  private def snapTagWms(rootFs: org.apache.hadoop.fs.FileSystem,
                         txnRoot: String, id: Int): Map[String, String] =
    Snapshot.readTextLines(rootFs, s"$txnRoot/manifest/snap_$id.txt")
      .collect { case l if l.startsWith("#tagwm=") =>
        val t = l.stripPrefix("#tagwm=")
        t.substring(0, t.indexOf('=') + 1) -> t
      }.toMap

  /** The most recent committed transaction tag starting with `prefix`
    * (`prefix` must be the full `name=` part, e.g. `"batch="`) — the
    * REPLAY WATERMARK a streaming producer consults before re-applying
    * a micro-batch (Delta's txn/appId idempotent-writer idea on this
    * log's manifests). Scans tags downward from the head txn, so the
    * cost is O(txns since the producer's last tagged commit) manifest
    * reads — normally ONE, because the producer's own last commit IS
    * the head; interleaved foreign commits only deepen the scan, never
    * defeat it (the r14 head-only guard's hole). When the scan hits
    * the pruned boundary it falls back to the vacuum fold snapshot's
    * `#tagwm=` watermark, so pruning a tag's carrier manifest never
    * turns a replay into a double-commit; a manifest missing WITHOUT a
    * covering snapshot refuses loudly (manual damage — undecidable).
    * None when no matching tag was ever committed. Upgrade note: fold
    * snapshots written by pre-watermark vacuums carry no `#tagwm=`
    * lines, so a tag an OLD vacuum pruned is unrecoverable — the same
    * exposure the old head-only guard already had; every vacuum from
    * this version on records the watermark. */
  def lastTagged(spark: SparkSession, txnRoot: String,
                 prefix: String): Option[String] = {
    val rootFs = new Path(txnRoot).getFileSystem(
      spark.sessionState.newHadoopConf())
    var k = latestTxn(spark, txnRoot)
    while (k >= 1) {
      if (!rootFs.exists(new Path(s"$txnRoot/manifest/v$k.txt"))) {
        // pruned boundary: vacuum deletes contiguously from txn 1, so
        // the newest snapshot must cover k — its watermark is final
        val snap = snapshotIds(rootFs, txnRoot).headOption
        require(snap.exists(_ >= k),
          s"txn $k of $txnRoot has no manifest and no fold snapshot " +
            s"covers it — whether a '$prefix' tag was committed below " +
            "the gap is undecidable (manual log damage?)")
        return snapTagWms(rootFs, txnRoot, snap.get).get(prefix)
      }
      val t = Snapshot.versionTag(spark, txnRoot, k)
      if (t.exists(_.startsWith(prefix))) return t
      k -= 1
    }
    None
  }

  // ------------------------------------------------ retention coupling
  /** The SAFE floor for a [[Snapshot.vacuum]] of a table enrolled in
    * this txn log: the version `destDir` had at the log's OLDEST
    * RESOLVABLE txn (the newest vacuum fold snapshot's id; txn 1 on a
    * never-pruned log). A table vacuum keeping from at most this
    * version strands NOTHING the log can still name — every
    * [[readAsOfTxn]] over a retained txn, every txn-CDC consumer
    * window at or above the log floor, and every pending roll-forward
    * keep resolving (consumers BELOW the log floor re-bootstrap by the
    * pump's own contract, independent of table retention). Without
    * this derivation, the table vacuum's "choose keepFrom such that no
    * reader pins an older version" contract is the one operational
    * mistake this layer invites: a keepFrom one version too tight
    * silently strands the log's historical reads. Runs recovery first
    * (a committed-but-unfinalized txn's versions count). Refuses a
    * table never enrolled through any retained txn. */
  def safeKeepFrom(spark: SparkSession, txnRoot: String,
                   destDir: String): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val rootFs = new Path(txnRoot).getFileSystem(conf)
    def q(d: String): String =
      new Path(d).getFileSystem(conf).makeQualified(new Path(d)).toString
    val want = q(destDir)
    recover(spark, txnRoot)
    val head = latestTxn(spark, txnRoot)
    require(head >= 1, s"no committed transactions in $txnRoot")
    val oldest = math.max(
      snapshotIds(rootFs, txnRoot).headOption.getOrElse(1), 1)
    // the table's version at the oldest resolvable txn — or, for a
    // table enrolled later, at its FIRST enrollment (versions are
    // monotone across txns, so the first appearance is the minimum
    // any resolvable txn snapshot pins)
    val fold = asOfTxn(spark, txnRoot, oldest)
    var k = oldest
    var hit = fold.collect { case (t, v) if q(t) == want => v }
      .reduceOption(math.min)
    while (hit.isEmpty && k < head) {
      k += 1
      hit = Snapshot.readManifest(spark, txnRoot, k).entries.collectFirst {
        case line if q(line.split("\t")(0)) == want =>
          line.split("\t")(2).toInt
      }
    }
    hit.getOrElse(throw new IllegalArgumentException(
      s"$destDir was never enrolled in any retained transaction of " +
        s"$txnRoot — no safe vacuum floor to derive (vacuum it as a " +
        "plain table if it is not under this log's retention)"))
  }

  /** [[Snapshot.vacuum]] with the txn-log guard: refuses a `keepFrom`
    * above [[safeKeepFrom]] — the vacuum call that would strand
    * [[readAsOfTxn]] / txn-CDC consumers over retained txns never
    * runs. Pass `keepFrom = 0` (the default) to vacuum exactly to the
    * derived floor. */
  def vacuumEnrolled(spark: SparkSession, txnRoot: String,
                     destDir: String, keepFrom: Int = 0): Int = {
    val floor = safeKeepFrom(spark, txnRoot, destDir)
    val kf = if (keepFrom <= 0) floor else keepFrom
    require(kf <= floor,
      s"vacuum of $destDir at keepFrom=$kf would strand txn-log " +
        s"$txnRoot: retained txns still pin version $floor and below " +
        s"back to it — the safe floor is $floor (vacuumTxnLog first to " +
        "raise it)")
    Snapshot.vacuum(spark, destDir, kf)
  }

  /** Snapshot-file txn ids under the log (newest-first). */
  private def snapshotIds(rootFs: org.apache.hadoop.fs.FileSystem,
                          txnRoot: String): Seq[Int] = {
    val dir = new Path(s"$txnRoot/manifest")
    if (!rootFs.exists(dir)) Seq.empty
    else rootFs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("snap_") && n.endsWith(".txt") =>
        n.stripPrefix("snap_").stripSuffix(".txt").toInt }
      .sorted.reverse.toSeq
  }

  /** The newest persisted fold snapshot usable as a starting point for
    * a fold THROUGH txn `k` (its id must be ≤ k), parsed to
    * (sinceTxn, table → version). None when no snapshot qualifies. */
  private def foldSnapshot(rootFs: org.apache.hadoop.fs.FileSystem,
                           txnRoot: String,
                           k: Int): Option[(Int, Map[String, Int])] =
    snapshotIds(rootFs, txnRoot).find(_ <= k).map { id =>
      val m = Snapshot.readTextLines(rootFs,
        s"$txnRoot/manifest/snap_$id.txt")
        .filterNot(_.startsWith("#")) // `#tagwm=` watermark headers
        .map { l =>
          val f = l.split("\t")
          require(f.length == 2,
            s"malformed txn fold snapshot line in $txnRoot snap_$id: $l")
          f(0) -> f(1).toInt
        }.toMap
      (id, m)
    }

  /** TXN-LEVEL TIMESTAMP RESOLUTION — [[Snapshot.versionAsOf]] lifted
    * to the transaction log: the newest txn whose manifest was
    * published (the commit point IS the manifest publish, so its
    * modification time is the commit time) at or before `tsMillis`.
    * One id pins a CONSISTENT multi-table historical read
    * ("everything as of yesterday 18:00"): resolve here, then
    * [[readAsOfTxn]] every table against it. None when no txn had
    * committed yet; pruned txns are skipped (a time inside the pruned
    * range resolves to nothing, never to a wrong later state).
    * Inherits [[Snapshot.versionAsOf]]'s running-max resolution, so a
    * txn manifest whose publish time is non-monotone in slot order
    * (CAS-retried renames, multi-writer clock skew) can never be
    * leapt over: the pinned txn's fold contains only txns stamped at
    * or before `tsMillis`. */
  def txnAsOfTime(spark: SparkSession, txnRoot: String,
                  tsMillis: Long): Option[Int] =
    Snapshot.versionAsOf(spark, txnRoot, tsMillis)

  /** Read `destDir` at the version it had committed through txn `k` —
    * [[asOfTxn]] resolved for one table. Table identity is by
    * QUALIFIED path, so spellings that name the same directory match.
    * Refuses a table never enrolled through txn k (there is no version
    * the snapshot could pin). */
  def readAsOfTxn(spark: SparkSession, txnRoot: String, k: Int,
                  destDir: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    def q(d: String): String =
      new Path(d).getFileSystem(conf).makeQualified(new Path(d)).toString
    val want = q(destDir)
    val hits = asOfTxn(spark, txnRoot, k).collect {
      case (t, v) if q(t) == want => v
    }
    require(hits.nonEmpty,
      s"$destDir was not enrolled in any transaction through txn $k " +
        s"of $txnRoot — no version to pin for a txn-consistent read")
    Snapshot.readSnapshot(spark, destDir, hits.max)
  }

  /** Read `destDir`'s latest version THROUGH the transaction log:
    * recover first (so a committed transaction a crashed writer never
    * finalized is visible), then the ordinary snapshot read. */
  def readLatest(spark: SparkSession, txnRoot: String,
                 destDir: String): DataFrame = {
    recover(spark, txnRoot)
    Snapshot.readSnapshot(spark, destDir,
      Snapshot.latestVersion(spark, destDir))
  }

  /** Finalize one committed transaction: publish each pending manifest
    * into its recorded version slot. Idempotent per (table, version). */
  private def finalizeCommitted(spark: SparkSession, txnRoot: String,
                                k: Int): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val m = Snapshot.readManifest(spark, txnRoot, k)
    var n = 0
    m.entries.foreach { line =>
      val f = line.split("\t")
      require(f.length == 3, s"malformed txn line in $txnRoot v$k: $line")
      val (dest, uid, target) = (f(0), f(1).toInt, f(2).toInt)
      val fs = new Path(dest).getFileSystem(conf)
      val pending = new Path(s"$dest/manifest/p$uid.txt")
      val versioned = new Path(s"$dest/manifest/v$target.txt")
      def stolenSlot(): Nothing = throw new IllegalStateException(
        s"txn $k of $txnRoot: version v$target of $dest was committed " +
          "by a NON-transactional writer after the transaction's commit " +
          s"point; the transaction's delta for $dest cannot be applied " +
          s"(staged at p$uid.txt). Route all writes to enrolled tables " +
          "through SnapshotTxn, or replay this delta manually.")
      // the per-table commit lock serializes concurrent recoverers
      // (reentrant under commit(), which already holds it)
      Snapshot.withCommitLocks(Seq(
          fs.makeQualified(new Path(dest)).toString)) {
        val latest = Snapshot.latestVersion(spark, dest)
        if (latest >= target) {
          // already finalized (possibly by another recoverer; possibly
          // vacuumed since). A still-present pending must MATCH what
          // sits in the slot — a mismatch is a stolen slot.
          if (fs.exists(pending)) {
            if (fs.exists(versioned) &&
                Snapshot.readTextLines(fs, pending.toString) !=
                  Snapshot.readTextLines(fs, versioned.toString))
              stolenSlot()
            fs.delete(pending, false)
            ()
          }
        } else if (latest == target - 1) {
          require(fs.exists(pending),
            s"txn $k of $txnRoot: pending manifest $pending is missing " +
              s"but v$target of $dest was never published — staged bytes " +
              "were reclaimed before recovery (vacuum ran without " +
              "recover, violating the txn retention contract)")
          val content = Snapshot.readTextLines(fs, pending.toString)
          if (!Snapshot.tryCommitManifest(fs, dest, target, uid, content)
              && Snapshot.readTextLines(fs, versioned.toString) != content)
            stolenSlot()
          fs.delete(pending, false)
          n += 1
        } else {
          throw new IllegalStateException(
            s"txn $k of $txnRoot: $dest is at v$latest but the " +
              s"transaction targets v$target — versions regressed " +
              "(manual intervention required)")
        }
      }
    }
    n
  }
}
