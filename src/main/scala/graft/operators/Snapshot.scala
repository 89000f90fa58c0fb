package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot diffing — the row-level regression report between two runs
  * of the same pipeline (yesterday's publish vs today's): which keys
  * were added, removed, or changed. At 100 TB the trick is that the
  * full-outer join never carries the rows themselves: each side is
  * projected to (key, 32-byte fingerprint) in its scan stage, so the
  * shuffle volume is keys + a constant, independent of row width. Two
  * co-bucketed snapshots (the q_bucketjoin layout) diff with no
  * exchange at all.
  */
object Snapshot {
  /** sha256 fingerprint over `cols` in the given order. Null-safe: each
    * column encodes as `0` (null) or `1`+value, fields joined with
    * `\u0001` — a null never collides with any string value. (A value
    * containing `\u0001` could straddle fields; acceptable for the
    * fingerprint's regression-report purpose and documented here.)
    * Callers pick engine-portable renderings for the compared columns
    * (integral/string, not raw doubles) when the diff must replay
    * cross-engine. */
  def rowFingerprint(cols: Seq[Column]): Column =
    sha2(concat_ws("\u0001", cols.map(c =>
      when(c.isNull, lit("0")).otherwise(concat(lit("1"), c.cast("string")))): _*),
      256)

  /** Row diff of `after` vs `before` on `keyCols`, comparing
    * `compareCols` (name → expression over that side's row): one
    * full-outer join of the two (key, fingerprint) projections,
    * classification `added` / `removed` / `changed` (unchanged rows are
    * dropped). Keys must be unique per side — the join would otherwise
    * fan out; violations surface as duplicate keys in the report. */
  def diff(before: DataFrame, after: DataFrame, keyCols: Seq[String],
           compareCols: Seq[Column]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(compareCols.nonEmpty, "need at least one compared column")
    def side(d: DataFrame, fp: String) =
      d.select(keyCols.map(col) :+ rowFingerprint(compareCols).as(fp): _*)
    side(before, "__fp_b")
      .join(side(after, "__fp_a"), keyCols, "full_outer")
      .withColumn("change",
        when(col("__fp_b").isNull, "added")
          .when(col("__fp_a").isNull, "removed")
          .when(col("__fp_b") =!= col("__fp_a"), "changed")
          .otherwise("same"))
      .filter(col("change") =!= "same")
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  // ------------------------------------------------------- time travel
  /** Manifest-based snapshot isolation (Iceberg-lite): every publish
    * writes IMMUTABLE data files under an exclusively-claimed staging
    * dir `dest/data/v<id>/`, records them in an immutable DELTA
    * manifest `dest/manifest/d<id>.txt`, and commits by publishing a
    * VERSION manifest `dest/manifest/v<k>.txt` — a manifest LIST whose
    * entries are one-line references to delta manifests (plus inline
    * lines where a transform materialized them). Readers resolve a
    * version's manifest and read only its files — so version k stays
    * readable (bit-identical) forever, regardless of later publishes,
    * and a reader never sees a half-written version (the version file
    * appears via rename, after every data file and delta manifest it
    * references is complete). This is the mechanism behind time
    * travel, reproducible training-data snapshots ("the exact corpus
    * run X trained on"), and safe concurrent publish-while-read.
    *
    * Two-level manifests are what keep COMMITS metadata-sized at
    * 100 TB: an append writes its own delta lines plus a version file
    * of O(versions) reference lines — never O(total files). A
    * million-file table's append commit re-writes a few KB; the flat
    * single-file design this replaced re-wrote the full file list
    * every commit (multi-hundred-MB driver strings at that scale).
    *
    * Concurrency: version numbers are assigned at COMMIT by an
    * optimistic CAS — build against the current latest version, then
    * check-and-rename into slot latest+1 under a per-destination lock
    * (atomic within the owning driver JVM; on stores whose rename
    * refuses an existing destination, e.g. HDFS, the rename itself
    * also guards cross-driver races). A publisher that loses the race
    * rebuilds against the fresh base and retries, so a carry-forward
    * commit can never silently omit a concurrent winner's delta;
    * base-DEPENDENT publishes (merge/compact) instead abort with
    * [[ConcurrentSnapshotUpdate]], because their joins ran against the
    * stale base. Committed version numbers are therefore contiguous;
    * staging ids may skip (crashed publishes leave orphan staging that
    * [[vacuumOrphans]] reclaims).
    *
    * [[appendSnapshot]] is where the layout earns its keep at 100 TB:
    * the new version references the PREVIOUS version's delta manifests
    * plus the new delta's — appending a day's data to a petabyte table
    * rewrites nothing. (Full rewrites stay available via
    * [[publishSnapshot]]; bucket-level REPLACEMENT composes with the
    * upsertExactlyOnce bucket layout — deliberately not duplicated
    * here.) */
  def publishSnapshot(df: DataFrame, destDir: String,
                      statsCol: Option[String] = None,
                      tag: Option[String] = None): Int =
    commitVersion(df, destDir, carryForward = false, statsCol, tag = tag)

  /** New version = previous version's files + `df` written as a delta.
    * Fails if no version exists yet (append needs a base). */
  def appendSnapshot(df: DataFrame, destDir: String,
                     statsCol: Option[String] = None,
                     tag: Option[String] = None): Int = {
    require(latestVersion(df.sparkSession, destDir) >= 1,
      s"appendSnapshot needs an existing version under $destDir")
    commitVersion(df, destDir, carryForward = true, statsCol, tag = tag)
  }

  /** MERGE INTO on the snapshot layout: upsert `updates` by `keyCol`
    * into a new version, rewriting ONLY the base files that actually
    * contain an updated key (copy-on-write). Untouched files — at
    * 100 TB, almost all of them — are carried forward BY REFERENCE,
    * so the merge costs O(touched + updates), never O(table):
    *   1. one COLUMN-PRUNED scan of the base's key column, semi-joined
    *      to the update keys, names the touched files;
    *   2. touched files are re-read (under the version's schema),
    *      matching keys anti-joined out, and the survivors + all
    *      update rows written as the new version's delta;
    *   3. the manifest = untouched entries (delta-manifest references
    *      carried whole where possible, stats text preserved) + new
    *      files; the CAS commit gives the same crash-invisibility as
    *      every publish, and a base that advanced underneath the merge
    *      aborts with [[ConcurrentSnapshotUpdate]] (the joins ran
    *      against stale files) — retry against the new latest.
    * Update semantics are whole-row replace (delete-matching +
    * insert-all); rows with keys absent from the base are inserts.
    * `statsCol` defaults to the previous version's, so skipping stats
    * survive merges without the caller re-stating them. */
  def mergeSnapshot(updates: DataFrame, destDir: String, keyCol: String,
                    statsCol: Option[String] = None,
                    tag: Option[String] = None): Int = {
    val spark = updates.sparkSession
    val prev = latestVersion(spark, destDir)
    require(prev >= 1,
      s"mergeSnapshot needs an existing version under $destDir")
    // ONE manifest read feeds the whole merge (lines, stats column,
    // schema) — at real manifest sizes (100k+ lines) re-parsing the
    // text per question would be the merge's driver bottleneck
    val prevManifest = readManifest(spark, destDir, prev)
    requireNoTombstones(prevManifest, destDir, prev, "mergeSnapshot")
    // an explicit statsCol override on a bloom-indexed base refuses
    // LOUDLY — and BEFORE the touched-file discovery job (the merge's
    // one table-sized cost): it would route past the index-preserving
    // lane and silently strip the carried words + #bloom header (the
    // same refuse-over-silent-degrade rule dropSnapshotColumn and MoR
    // use). The base's stats list already carries without the override.
    require(prevManifest.bloom.isEmpty || statsCol.isEmpty,
      s"mergeSnapshot with an explicit statsCol " +
        s"('${statsCol.getOrElse("")}') on the bloom-indexed v$prev of " +
        s"$destDir would discard the index; omit statsCol (the base's " +
        "stats list carries through the merge) or re-publish via " +
        "publishSnapshotIndexed to change the stats/index layout")
    val lines = prevManifest.lines
    val relPaths = lines.map(linePath)
    // identity join key for input_file_name() ↔ manifest line matching:
    // the last two path segments ("v<k>/part-...") are unique across
    // versions (each version owns its data dir), robust to scheme and
    // qualification differences in the URI form
    def lastTwo(p: String): String =
      p.split("/").takeRight(2).mkString("/")
    val keys = updates.select(col(keyCol)).distinct()
    // Touched-file discovery is the merge's only table-sized cost, so
    // shrink it first: when the manifest's stats column IS the merge
    // key (the natural layout for a keyed table), only files whose
    // [min,max] overlaps the update batch's key range can contain a
    // match — everything else skips the key scan entirely. filesForRange
    // keeps stats-less files (no false negatives), and the exact
    // semi-join below narrows the conservative range to true hits. On a
    // key-clustered base this makes discovery O(touched), not O(table).
    val candidates: Seq[String] =
      if (prevManifest.statsCol.contains(keyCol) &&
          (updates.schema(keyCol).dataType match {
            case org.apache.spark.sql.types.LongType |
                 org.apache.spark.sql.types.IntegerType |
                 org.apache.spark.sql.types.ShortType |
                 org.apache.spark.sql.types.ByteType => true
            case _ => false
          })) {
        val mm = updates.agg(min(col(keyCol)).cast("long"),
          max(col(keyCol)).cast("long")).head()
        if (mm.isNullAt(0)) Seq.empty // empty update batch touches nothing
        else linesForRange(prevManifest, mm.getLong(0), mm.getLong(1))
      } else relPaths
    // bounded collect: one row per TOUCHED FILE (≤ manifest size — the
    // same driver-side class as reading the manifest itself)
    val touched =
      if (candidates.isEmpty) Set.empty[String]
      else readWithSchema(spark, prevManifest.schema,
          candidates.map(f => s"$destDir/$f"))
        .select(substring_index(input_file_name(), "/", -2).as("__f"),
          col(keyCol))
        .join(keys, Seq(keyCol), "left_semi")
        .select("__f").distinct().collect().map(_.getString(0)).toSet
    // group-granular carry: a delta manifest NONE of whose files were
    // touched is carried as its one-line reference (the common case on
    // a big table — merges touch few files, so the new version file
    // stays O(versions + touched), never O(total files)); a partially-
    // touched group inlines only its untouched lines
    val untouchedEntries = prevManifest.groups.flatMap { g =>
      if (g.lines.forall(l => !touched(lastTwo(linePath(l))))) Seq(g.entry)
      else g.lines.filterNot(l => touched(lastTwo(linePath(l))))
    }
    val untouchedRows = sumLineRows(
      lines.filterNot(l => touched(lastTwo(linePath(l)))))
    val touchedPaths = relPaths.filter(p => touched(lastTwo(p)))
    val survivors =
      if (touchedPaths.isEmpty)
        updates.limit(0)
      else readWithSchema(spark, prevManifest.schema,
          touchedPaths.map(f => s"$destDir/$f"))
        .join(keys, Seq(keyCol), "left_anti")
    // whole-row replace must state every base column (a missing field
    // would silently null it on replaced rows); NEW columns are the
    // add-column evolution path — survivors null-fill them
    prevManifest.schema.foreach { prevSchema =>
      prevSchema.fields.foreach { f =>
        require(updates.schema.fields.exists(c =>
            c.name == f.name && c.dataType == f.dataType),
          s"mergeSnapshot updates must carry every base column: " +
            s"'${f.name}: ${f.dataType.simpleString}' is missing or retyped")
      }
    }
    val delta0 = survivors.unionByName(updates, allowMissingColumns = true)
    // restore the BASE's column order: the survivors' anti-join moved the
    // key column first, and a merge must not reorder the version schema
    // (readers and later merges see a stable column order across
    // versions; new evolution columns append at the end)
    val delta = prevManifest.schema match {
      case Some(ps) =>
        val newCols = delta0.columns.filterNot(ps.fieldNames.contains)
        delta0.select((ps.fieldNames ++ newCols).map(col).toSeq: _*)
      case None => delta0
    }
    if (prevManifest.bloom.isDefined)
      // indexed lane: rewritten/new rows land in files with fresh
      // per-file words (any bloom column is valid under copy-on-write —
      // whole rows materialize), untouched files keep theirs, the
      // #bloom header survives the merge
      commitIndexedDelta(delta, destDir, prevManifest, prev,
        untouchedEntries, untouchedRows, tag, "mergeSnapshot")
    else commitVersion(delta, destDir, carryForward = true,
      statsCol = None, tag = tag,
      carriedOverride = Some(untouchedEntries),
      prevManifestOpt = Some(prevManifest),
      // the anti-joins above ran against v`prev`'s files: if another
      // version commits first, this result is stale — commitVersion
      // aborts with ConcurrentSnapshotUpdate instead of losing it
      baseVersion = Some(prev),
      // inherit the base's FULL stats list (a Z-ordered base keeps both
      // columns' skipping through merges) unless the caller restates
      statsColsMulti = statsCol.map(Seq(_))
        .getOrElse(prevManifest.statsCols),
      carriedRowsOverride = untouchedRows)
  }

  /** Range replacement — Delta's `replaceWhere` / Hive dynamic-partition
    * overwrite re-expressed on the manifest layout: the new version is
    * the base with every row whose stats column lies in [lo, hi]
    * REPLACED by `df` (whose rows must all lie inside the range — the
    * replaceWhere contract, enforced before anything is written). This
    * is the daily-reload workhorse (re-publish one date range of a
    * petabyte table) and costs O(boundary + new), never O(table):
    *   - files whose [min, max] ⊆ [lo, hi] are dropped by MANIFEST
    *     ARITHMETIC alone — zero bytes read;
    *   - files disjoint from the range carry by reference (whole delta
    *     manifests as their one-line entry, the merge/compact rule);
    *   - only files STRADDLING a range edge — on a range-clustered
    *     table, ~2 per replace — are re-read to keep their outside
    *     rows; stats-less files conservatively join them (a rewrite is
    *     wasted work but never wrong).
    * Schema follows the merge rule (every base column stated, new
    * columns evolve, base column order preserved); stats inherit.
    * Base rows with a NULL stats value never match the range and are
    * preserved: a file drops unread only when its parquet footer proves
    * zero nulls in the stats column (min/max alone can't — they ignore
    * nulls), and the straddle rewrite keeps null rows explicitly.
    * Base-dependent like merge: a concurrent commit aborts with
    * [[ConcurrentSnapshotUpdate]] — retry on the fresh base. */
  def replaceSnapshotRange(df: DataFrame, destDir: String,
                           lo: Long, hi: Long,
                           tag: Option[String] = None): Int = {
    val spark = df.sparkSession
    val prev = latestVersion(spark, destDir)
    require(prev >= 1,
      s"replaceSnapshotRange needs an existing version under $destDir")
    val m = readManifest(spark, destDir, prev)
    requireNoTombstones(m, destDir, prev, "replaceSnapshotRange")
    val c = m.statsCol.getOrElse(throw new IllegalArgumentException(
      s"replaceSnapshotRange needs a stats column on $destDir " +
        "(publish with statsCol)"))
    require(lo <= hi, s"empty range [$lo, $hi]")
    // the replaceWhere contract (batch ⊆ range, no nulls) is checked by
    // an expression RIDING the committed write itself — never by a
    // separate pre-pass: a non-deterministic batch (sampling, rand())
    // could pass a pre-count and then materialize different rows, so the
    // checked rows must BE the written rows. A violation aborts the
    // delta write mid-job (staged bytes reclaimed by vacuumOrphans) and
    // surfaces as IllegalArgumentException below.
    val checked = df.filter(
      when(col(c) < lo || col(c) > hi || col(c).isNull,
        raise_error(concat(
          lit(s"replaceSnapshotRange: replacement row outside [$lo, $hi] " +
            s"on '$c' (value "),
          coalesce(col(c).cast("string"), lit("NULL")),
          lit("; the replaceWhere contract: the batch must lie entirely " +
            "inside the replaced range, non-null)"))))
        .otherwise(lit(true)))
    m.schema.foreach { prevSchema =>
      prevSchema.fields.foreach { f =>
        require(df.schema.fields.exists(x =>
            x.name == f.name && x.dataType == f.dataType),
          s"replaceSnapshotRange batch must carry every base column: " +
            s"'${f.name}: ${f.dataType.simpleString}' is missing or retyped")
      }
    }
    // classify each line off its manifest stats: inside → drop,
    // disjoint → carry, straddling-or-unknown → rewrite outside rows
    def firstBounds(l: String): Option[(Long, Long)] = {
      val f = l.split("\t")
      // an indexed line carries a trailing words field: the stats
      // arity check must account for it or every file demotes to
      // Rewrite (correct but O(table) — the pruning IS the operator)
      val statFields = f.length - 2 - (if (m.bloom.isDefined) 1 else 0)
      if (statFields >= 2 && statFields % 2 == 0)
        try Some((f(2).toLong, f(3).toLong))
        catch { case _: NumberFormatException => None }
      else None
    }
    sealed trait Cls
    case object Carry extends Cls; case object Drop extends Cls
    case object Rewrite extends Cls
    def classifyByStats(l: String): Cls = firstBounds(l) match {
      case Some((mn, mx)) if mx < lo || mn > hi => Carry
      case Some((mn, mx)) if mn >= lo && mx <= hi => Drop
      case _ => Rewrite
    }
    // NULL GUARD on the drop path: parquet min/max ignore nulls, so a
    // file whose non-null values all lie inside [lo, hi] may still hold
    // null-valued rows — and those rows do NOT match the replaced range
    // (replaceWhere keeps non-matching rows). A file drops UNREAD only
    // when its footer proves zero nulls in the stats column; unknown or
    // nonzero null counts demote to Rewrite, whose survivor filter keeps
    // null rows explicitly. Footer checks run only for drop candidates,
    // in parallel — metadata reads, O(in-range files).
    val cls: Map[String, Cls] = {
      import scala.collection.parallel.CollectionConverters._
      m.lines.par.map { l =>
        val c0 = classifyByStats(l)
        val c1 =
          if (c0 == Drop && !footerNullFree(
              spark.sessionState.newHadoopConf(),
              new org.apache.hadoop.fs.Path(s"$destDir/${linePath(l)}"), c))
            Rewrite
          else c0
        l -> c1
      }.seq.toMap
    }
    val carriedEntries = m.groups.flatMap { g =>
      if (g.lines.forall(cls(_) == Carry)) Seq(g.entry)
      else g.lines.filter(cls(_) == Carry)
    }
    val carriedRows = sumLineRows(m.lines.filter(cls(_) == Carry))
    val rewritePaths = m.lines.filter(cls(_) == Rewrite).map(linePath)
    val survivors =
      if (rewritePaths.isEmpty) df.limit(0)
      else readWithSchema(spark, m.schema,
          rewritePaths.map(f => s"$destDir/$f"))
        .filter(col(c) < lo || col(c) > hi || col(c).isNull)
    val delta0 = survivors.unionByName(checked, allowMissingColumns = true)
    val delta = m.schema match {
      case Some(ps) =>
        val newCols = delta0.columns.filterNot(ps.fieldNames.contains)
        delta0.select((ps.fieldNames ++ newCols).map(col).toSeq: _*)
      case None => delta0
    }
    try {
      if (m.bloom.isDefined)
        // indexed lane: replacement + straddle-survivor files get fresh
        // words, disjoint files keep theirs, the #bloom header survives
        commitIndexedDelta(delta, destDir, m, prev, carriedEntries,
          carriedRows, tag, "replaceSnapshotRange")
      else commitVersion(delta, destDir, carryForward = true,
        statsCol = None,
        carriedOverride = Some(carriedEntries),
        tag = tag, prevManifestOpt = Some(m), baseVersion = Some(prev),
        statsColsMulti = m.statsCols, carriedRowsOverride = carriedRows)
    } catch {
      // the riding contract check fired during the delta write: surface
      // the replaceWhere violation as the API's contract exception (the
      // staged partial write is orphaned; vacuumOrphans reclaims it)
      case e: Throwable if exceptionChain(e).exists(t =>
          t.getMessage != null &&
            t.getMessage.contains("replaceSnapshotRange:")) =>
        throw new IllegalArgumentException(
          exceptionChain(e).flatMap(t => Option(t.getMessage))
            .find(_.contains("replaceSnapshotRange:"))
            .getOrElse("replaceSnapshotRange: contract violation"), e)
    }
  }

  /** The throwable and every cause below it (cycle-safe). */
  private def exceptionChain(e: Throwable): List[Throwable] = {
    val out = scala.collection.mutable.ListBuffer.empty[Throwable]
    var cur = e
    while (cur != null && !out.contains(cur) && out.length < 32) {
      out += cur; cur = cur.getCause
    }
    out.toList
  }

  /** Does `path`'s parquet footer PROVE the stats column holds no
    * nulls? True only when every block records a null count of zero
    * for `statsCol`; a missing column chunk (pre-evolution file: the
    * column reads as all-null) or an unset null count is false — the
    * caller must err toward re-reading, never toward dropping rows. */
  private def footerNullFree(conf: org.apache.hadoop.conf.Configuration,
                             path: org.apache.hadoop.fs.Path,
                             statsCol: String): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try reader.getFooter.getBlocks.asScala.forall { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == statsCol)
        .exists { ch =>
          val st = ch.getStatistics
          st != null && st.isNumNullsSet && st.getNumNulls == 0L
        }
    } finally reader.close()
  }

  /** DROP COLUMN as a METADATA-ONLY commit (the other half of schema
    * evolution — adds were already free): the new version carries the
    * previous version's entries verbatim under a schema that omits the
    * column, so readers of every referenced file (which still holds the
    * column's bytes) simply never project it. Zero data rewritten,
    * commit cost O(versions); the bytes drain out physically as
    * compaction/merge rewrite files under the reduced schema. The
    * dropped NAME is fenced forever (`#dropped` header, carried through
    * every later commit): re-adding it would silently resurrect
    * pre-drop values from old files — the name-based layout's analog of
    * the field-ID problem, solved here by refusal. Dropping a stats or
    * bloom column refuses (their manifest text would desynchronize);
    * dropping any OTHER column keeps both indexes — files are
    * untouched, so carried stats and words stay valid. Time travel
    * below the drop still reads the full old schema. */
  def dropSnapshotColumn(spark: org.apache.spark.sql.SparkSession,
                         destDir: String, colName: String,
                         tag: Option[String] = None): Int = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(destDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val prev = latestVersion(spark, destDir)
    require(prev >= 1,
      s"dropSnapshotColumn needs an existing version under $destDir")
    val m = readManifest(spark, destDir, prev)
    requireNoTombstones(m, destDir, prev, "dropSnapshotColumn")
    // a metadata-only drop leaves every file byte identical, so carried
    // per-file bloom words stay valid — the index survives UNLESS the
    // dropped column IS the indexed one (words over a vanished column
    // would admit point reads the schema can no longer answer)
    m.bloom.foreach { case (bc, _, _) => require(bc != colName,
      s"'$colName' is the bloom column of $destDir — dropping it would " +
        "orphan the index; re-publish with a different bloom column " +
        "first") }
    require(!m.statsCols.contains(colName),
      s"'$colName' is a manifest stats column of $destDir — dropping it " +
        "would desynchronize the carried stats text; re-publish with a " +
        "different statsCol first")
    val prevSchema = m.schema.getOrElse(throw new IllegalStateException(
      s"v$prev of $destDir carries no schema header"))
    require(prevSchema.fieldNames.contains(colName),
      s"'$colName' is not a column of $destDir v$prev " +
        s"(${prevSchema.fieldNames.mkString(", ")})")
    require(prevSchema.fields.length >= 2,
      s"cannot drop the only column of $destDir")
    val newSchema = org.apache.spark.sql.types.StructType(
      prevSchema.fields.filterNot(_.name == colName))
    val droppedSet = (m.droppedCols + colName).toSeq.sorted
    val header = Seq(s"#schema=${newSchema.json}") ++
      (if (m.statsCols.isEmpty) Seq.empty
       else Seq(s"#stats=${m.statsCols.mkString(",")}")) ++
      m.bloom.map { case (bc, mb, kk) => s"#bloom=$bc,$mb,$kk" }.toSeq ++
      tag.map(t => s"#tag=$t").toSeq ++
      Seq(s"#dropped=${droppedSet.mkString(",")}") ++
      // metadata-only commit: the row count is exactly the base's
      m.rowsHeader.map(r => s"#rows=$r").toSeq
    val uid = claimStagingId(fs, destDir, prev + 1)
    if (latestVersion(spark, destDir) != prev ||
        !tryCommitManifest(fs, destDir, prev + 1, uid, header ++ m.entries))
      throw new ConcurrentSnapshotUpdate(
        s"base of $destDir advanced past v$prev during dropSnapshotColumn; " +
          "retry against the new latest version")
    prev + 1
  }

  // ------------------------------------------------------ merge-on-read
  /** MERGE INTO, merge-on-read (the Iceberg-v2 / Hudi-MoR write path):
    * commit the update batch AND a tombstone DELETE-SET (the batch's
    * distinct keys) — and touch NO base file at all. Where
    * [[mergeSnapshot]] (copy-on-write) pays a touched-file discovery
    * scan plus a rewrite of every file containing an updated key, this
    * commits O(updates) bytes, full stop — the write path for
    * high-frequency updates against a 100 TB table, with the cost moved
    * to readers: [[readSnapshot]] resolves the upsert log with one
    * broadcast join against the per-key max delete sequence (read tax
    * O(accumulated updates), bounded by running
    * [[reconcileSnapshotMoR]] periodically, which converts back to
    * pure copy-on-write at O(touched) cost).
    *
    * Semantics are identical to [[mergeSnapshot]]: whole-row replace by
    * `keyCol` (every update key's old rows disappear, every update row
    * appears; absent keys are inserts). Sequencing: the staging id is
    * the upsert-log sequence — sound because the commit is
    * base-DEPENDENT (a racing commit aborts with
    * [[ConcurrentSnapshotUpdate]]; the retried op claims a fresh,
    * necessarily higher id), and because copy-on-write mutations refuse
    * tombstoned tables, no out-of-sequence writer can exist. Null keys
    * are not addressable by a keyed merge and are refused. Bloom
    * manifests refuse (carried words would dangle). */
  def mergeSnapshotMoR(updates: DataFrame, destDir: String,
                       keyCol: String, tag: Option[String] = None): Int =
    morCommit(Some(updates), None, destDir, keyCol, tag)

  /** Row-level DELETE on the merge-on-read path: commit ONLY a
    * tombstone delete-set — the keys disappear from the next version
    * without reading or rewriting anything (Delta `DELETE WHERE key IN
    * …` semantics at O(keys) cost). Same sequencing and refusal rules
    * as [[mergeSnapshotMoR]]. */
  def deleteSnapshotMoR(keys: DataFrame, destDir: String,
                        keyCol: String, tag: Option[String] = None): Int =
    morCommit(None, Some(keys.select(col(keyCol)).distinct()), destDir,
      keyCol, tag)

  /** Predicate-level DELETE on the merge-on-read path — Delta's
    * `DELETE WHERE <cond>` completing the MoR DML triple: evaluate
    * `cond` against the CURRENT table state (upsert log resolved, so a
    * key whose latest upsert no longer matches is correctly spared),
    * then commit ONLY the matching keys as a tombstone delete-set —
    * zero base files rewritten, O(matching keys) bytes.
    *
    * The matching-key scan is STATS-PRUNED by manifest arithmetic:
    * conjuncts of `cond` over the table's first stats column are folded
    * into a [lo, hi] bound ([[predicateBounds]]) and only overlapping
    * files are opened — on a key-clustered table a narrow predicate
    * delete scans a handful of files, never the table. Pruning is
    * null-sound: bounds come only from null-rejecting comparison
    * conjuncts, so a row with a null stats value can never satisfy the
    * bounded conjunct, and unbounded shapes (IS NULL, NOT, foreign
    * columns) simply keep every file. Upsert-log files carry no stats
    * lines and are always scanned (the log is small between
    * reconciles by design).
    *
    * KEY-granular like every merge-on-read op (the keyed-table
    * contract: one live row per key) — a matching row condemns its
    * whole key. A predicate matching nothing returns the current
    * version without committing (no spurious tombstone state).
    * Base-dependent like every MoR commit: a concurrent commit between
    * the scan and the commit aborts with [[ConcurrentSnapshotUpdate]] —
    * the matched key set would be stale. */
  def deleteSnapshotMoRWhere(spark: org.apache.spark.sql.SparkSession,
                             destDir: String, keyCol: String, cond: Column,
                             tag: Option[String] = None): Int = {
    val prev = latestVersion(spark, destDir)
    require(prev >= 1,
      s"deleteSnapshotMoRWhere needs an existing version under $destDir")
    val m = readManifest(spark, destDir, prev)
    prunedCurrentState(spark, destDir, m, prev, cond) match {
      case None => prev
      case Some(current) =>
        val keys = current.filter(cond).select(col(keyCol)).distinct()
        // ONE candidate scan total: the delete-set write IS the match
        // probe (skipIfEmpty reclaims a zero-row staging and reports
        // the base unchanged — no limit(1).count() pre-pass)
        morCommit(None, Some(keys), destDir, keyCol, tag,
          pinnedBase = Some(prev), skipIfEmpty = true)
    }
  }

  /** Predicate-level UPDATE on the merge-on-read path — Delta's
    * `UPDATE <table> SET ... WHERE <cond>`, completing the MoR DML
    * quartet (merge, key delete, predicate delete, predicate update):
    * evaluate `cond` against the resolved current state over the same
    * stats-pruned file subset as [[deleteSnapshotMoRWhere]], apply the
    * SET expressions to the matching rows, and commit them as ONE
    * O(matches) upsert batch (tombstone + re-insert — zero base files
    * rewritten). Set expressions may reference the row's own columns
    * (`bal -> col("bal") + 1`) and may introduce NEW columns
    * (add-column evolution; old rows null-fill). Updating the key
    * column is refused — a key rewrite is a delete+insert, which a
    * keyed upsert log cannot express as an update. KEY-granular like
    * [[deleteSnapshotMoRWhere]] (one live row per key — the keyed-table
    * contract). A predicate matching nothing returns the current
    * version without committing. */
  def updateSnapshotMoRWhere(spark: org.apache.spark.sql.SparkSession,
                             destDir: String, keyCol: String, cond: Column,
                             set: Map[String, Column],
                             tag: Option[String] = None): Int = {
    require(set.nonEmpty, "updateSnapshotMoRWhere needs SET expressions")
    require(!set.contains(keyCol),
      s"cannot SET the merge key '$keyCol': a key rewrite is a " +
        "delete + insert, not an update")
    val prev = latestVersion(spark, destDir)
    require(prev >= 1,
      s"updateSnapshotMoRWhere needs an existing version under $destDir")
    val m = readManifest(spark, destDir, prev)
    prunedCurrentState(spark, destDir, m, prev, cond) match {
      case None => prev
      case Some(current) =>
        val matched = current.filter(cond)
        val updated = set.foldLeft(matched) { case (df, (name, expr)) =>
          df.withColumn(name, expr)
        }
        // ONE candidate scan total: the batch write IS the match probe
        morCommit(Some(updated), None, destDir, keyCol, tag,
          pinnedBase = Some(prev), skipIfEmpty = true)
    }
  }

  /** PREDICATE READ with manifest-stats file pruning, MoR-transparent —
    * the read-side face of the predicate-DML machinery: `cond`'s
    * conjuncts over the table's first stats column fold into a
    * [lo, hi] bound ([[predicateBounds]]), only overlapping files are
    * opened (null-sound, no false negatives), the upsert log resolves
    * over that subset when tombstones exist ([[morResolve]] is sound on
    * any data subset), and `cond` then applies exactly. Where
    * [[readSnapshotRange]] needs a reconciled table and a literal
    * range, this reads ANY predicate over ANY table state — a narrow
    * predicate on a key-clustered 100 TB table opens a handful of
    * files, live tombstones included. Unbounded predicate shapes
    * degrade to a full (column-prunable) scan, never to a wrong
    * answer. */
  def readSnapshotWhere(spark: org.apache.spark.sql.SparkSession,
                        destDir: String, v: Int, cond: Column): DataFrame = {
    val m = readManifest(spark, destDir, v)
    prunedCurrentState(spark, destDir, m, v, cond) match {
      case None => readSnapshot(spark, destDir, v).filter(lit(false))
      case Some(df) => df.filter(cond)
    }
  }

  /** Shared predicate-DML front half ([[deleteSnapshotMoRWhere]] /
    * [[updateSnapshotMoRWhere]]): resolve `cond` against the table
    * schema on an EMPTY probe (public API, no data touched — the
    * ANALYZED filter condition, not the optimized plan, which would
    * collapse the empty relation), fold its conjuncts over the first
    * stats column into a [lo, hi] bound ([[predicateBounds]]), prune
    * the manifest to overlapping files, and resolve the CURRENT state
    * over the survivors (upsert log resolved when tombstones exist).
    * None when no file can hold a match — the caller returns the base
    * version without committing. */
  private[operators] def prunedCurrentState(
      spark: org.apache.spark.sql.SparkSession,
      destDir: String, m: ManifestData,
      prev: Int,
      cond: Column): Option[DataFrame] = {
    val (lo, hi) = (m.statsCol, m.schema) match {
      case (Some(c), Some(schema)) =>
        val probe = spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          schema)
        probe.filter(cond).queryExecution.analyzed match {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            predicateBounds(f.condition, c)
          case _ => (Long.MinValue, Long.MaxValue)
        }
      case _ => (Long.MinValue, Long.MaxValue)
    }
    val dataLines = m.lines.filterNot(isDeleteLine)
    val candidates = dataLines
      .filter(lineOverlaps(_, 0, lo, hi, m.bloom.isDefined))
      .map(l => s"$destDir/${linePath(l)}")
    if (candidates.isEmpty) None
    else Some(
      if (m.lines.exists(isDeleteLine))
        morResolve(spark, destDir, m, prev, candidates)
      else readWithSchema(spark, m.schema, candidates))
  }

  /** Fold `e`'s conjuncts over column `c` into a conservative [lo, hi]
    * bound for manifest-stats pruning. Only null-rejecting comparison
    * shapes tighten (`c (>|>=|<|<=|=) literal`, reversed literals, IN,
    * BETWEEN-as-And); And intersects, Or unions, and ANY other shape —
    * IS NULL, NOT, functions of c, other columns — is unbounded, so
    * pruning can never lose a matching row (including null-valued
    * ones: a tightened bound implies a comparison conjunct on c, which
    * a null c fails). Strict bounds are kept inclusive (a boundary file
    * is an extra open, never a lost row). */
  private[graft] def predicateBounds(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      c: String): (Long, Long) = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    val all = (Long.MinValue, Long.MaxValue)
    // a WIDENING integral cast (what the analyzer inserts to reconcile
    // comparison operand types) is order- and value-preserving, so it
    // unwraps transparently; any other cast leaves the shape unbounded
    def widens(from: DataType, to: DataType): Boolean = {
      def rank(d: DataType): Int = d match {
        case ByteType => 1; case ShortType => 2
        case IntegerType => 3; case LongType => 4; case _ => 99
      }
      rank(from) <= rank(to) && rank(to) <= 4
    }
    def attr(x: Expression): Option[String] = x match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(a.name)
      case a: AttributeReference => Some(a.name)
      case c: Cast if c.resolved && widens(c.child.dataType, c.dataType) =>
        attr(c.child)
      case _ => None
    }
    def lit(x: Expression): Option[Long] = x match {
      case Literal(v: Long, _) => Some(v)
      case Literal(v: Int, _) => Some(v.toLong)
      case Literal(v: Short, _) => Some(v.toLong)
      case Literal(v: Byte, _) => Some(v.toLong)
      case c: Cast if c.resolved && widens(c.child.dataType, c.dataType) =>
        lit(c.child)
      case _ => None
    }
    def onC(x: Expression): Boolean = attr(x).contains(c)
    e match {
      case And(l, r) =>
        val (ll, lh) = predicateBounds(l, c)
        val (rl, rh) = predicateBounds(r, c)
        (math.max(ll, rl), math.min(lh, rh))
      case Or(l, r) =>
        val (ll, lh) = predicateBounds(l, c)
        val (rl, rh) = predicateBounds(r, c)
        (math.min(ll, rl), math.max(lh, rh))
      case GreaterThan(a, v) if onC(a) && lit(v).isDefined =>
        (lit(v).get, Long.MaxValue)
      case GreaterThanOrEqual(a, v) if onC(a) && lit(v).isDefined =>
        (lit(v).get, Long.MaxValue)
      case LessThan(a, v) if onC(a) && lit(v).isDefined =>
        (Long.MinValue, lit(v).get)
      case LessThanOrEqual(a, v) if onC(a) && lit(v).isDefined =>
        (Long.MinValue, lit(v).get)
      case EqualTo(a, v) if onC(a) && lit(v).isDefined =>
        (lit(v).get, lit(v).get)
      // literal-on-the-left spellings mirror
      case GreaterThan(v, a) if onC(a) && lit(v).isDefined =>
        (Long.MinValue, lit(v).get)
      case GreaterThanOrEqual(v, a) if onC(a) && lit(v).isDefined =>
        (Long.MinValue, lit(v).get)
      case LessThan(v, a) if onC(a) && lit(v).isDefined =>
        (lit(v).get, Long.MaxValue)
      case LessThanOrEqual(v, a) if onC(a) && lit(v).isDefined =>
        (lit(v).get, Long.MaxValue)
      case EqualTo(v, a) if onC(a) && lit(v).isDefined =>
        (lit(v).get, lit(v).get)
      case In(a, vs) if onC(a) && vs.nonEmpty && vs.forall(lit(_).isDefined) =>
        (vs.flatMap(lit).min, vs.flatMap(lit).max)
      case _ => all
    }
  }

  private def morCommit(updatesOpt: Option[DataFrame],
                        delKeysOpt: Option[DataFrame],
                        destDir: String, keyCol: String,
                        tag: Option[String] = None,
                        pinnedBase: Option[Int] = None,
                        skipIfEmpty: Boolean = false,
                        carriedEntriesOverride: Option[Seq[String]] = None,
                        carriedRowsOverride: Option[Option[Long]] = None): Int = {
    import org.apache.hadoop.fs.Path
    val spark = updatesOpt.orElse(delKeysOpt).get.sparkSession
    val fs = new Path(destDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    // a caller whose delete-set was COMPUTED against a base version
    // (deleteSnapshotMoRWhere's predicate scan) pins it: the single-
    // attempt CAS below then rejects any commit that raced in between
    val prev = pinnedBase.getOrElse(latestVersion(spark, destDir))
    morStage(updatesOpt, delKeysOpt, destDir, keyCol, tag, prev,
        skipIfEmpty, carriedEntriesOverride, carriedRowsOverride) match {
      case None => prev
      case Some((uid, content)) =>
        def abort(msg: String): Nothing = {
          fs.delete(new Path(s"$destDir/data/v$uid"), true)
          fs.delete(new Path(s"$destDir/data/v${uid}_del"), true)
          throw new ConcurrentSnapshotUpdate(msg)
        }
        // base-dependent CAS, single attempt: the upsert-log sequencing
        // argument needs commit order == staging-id order, which holds
        // only when a lost race aborts (the caller's retry claims a
        // fresh, higher id) instead of re-committing the same id later
        if (latestVersion(spark, destDir) != prev)
          abort(s"base of $destDir advanced past v$prev during a " +
            "merge-on-read commit; retry against the new latest version")
        if (!tryCommitManifest(fs, destDir, prev + 1, uid, content))
          abort(s"merge-on-read commit to $destDir lost the v${prev + 1} " +
            "slot; retry against the new latest version")
        prev + 1
    }
  }

  /** STAGE a merge-on-read batch against base version `base` of
    * `destDir` without committing: claim a staging id, write the update
    * batch and delete-set files, and return (stagingId, the manifest
    * content a commit of this batch would publish). Shared by
    * [[morCommit]] (which follows with the CAS) and
    * [[SnapshotTxn.stageMerge]]/[[SnapshotTxn.stageDelete]] (which park
    * the content in a pending manifest until the transaction's commit
    * point). None when `skipIfEmpty` and the staged batch held zero
    * rows (staging reclaimed). `carriedEntriesOverride`/
    * `carriedRowsOverride` replace the carried-verbatim previous
    * entries — [[compactSnapshotMoRLog]]'s hook, which carries only the
    * BASE entries and drops the folded log's lines. */
  private[operators] def morStage(updatesOpt: Option[DataFrame],
                        delKeysOpt: Option[DataFrame],
                        destDir: String, keyCol: String,
                        tag: Option[String],
                        base: Int,
                        skipIfEmpty: Boolean = false,
                        carriedEntriesOverride: Option[Seq[String]] = None,
                        carriedRowsOverride: Option[Option[Long]] = None): Option[(Int, Seq[String])] = {
    import org.apache.hadoop.fs.Path
    require(updatesOpt.nonEmpty || delKeysOpt.nonEmpty,
      "morStage needs an update batch, an explicit delete-set, or both")
    val spark = updatesOpt.orElse(delKeysOpt).get.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(destDir).getFileSystem(conf)
    val prev = base
    require(prev >= 1,
      s"mergeSnapshotMoR/deleteSnapshotMoR need an existing version " +
        s"under $destDir")
    val m = readManifest(spark, destDir, prev)
    // a bloom index SURVIVES merge-on-read commits when it indexes the
    // merge key: carried lines keep their per-file words verbatim
    // (files are immutable), and the batch + delete-set files get their
    // own words below — so a continuously-upserted table keeps
    // readSnapshotPoint skipping with no reconcile. Any OTHER bloom
    // column refuses: an upsert replaces whole rows, so a non-key
    // column's value can move between files and carried words would lie.
    m.bloom.foreach { case (bc, _, _) => require(bc == keyCol,
      s"merge-on-read on a bloom-indexed table requires the bloom " +
        s"column ('$bc' on v$prev of $destDir) to BE the merge key " +
        s"('$keyCol'); reconcile + re-publish to change the index") }
    m.headers.get("morkey").foreach(k0 => require(k0 == keyCol,
      s"$destDir's merge-on-read log is keyed by '$k0'; got '$keyCol'"))
    m.schema.foreach(ps => require(ps.fieldNames.contains(keyCol),
      s"key column '$keyCol' is not a column of $destDir"))
    // the null-key contract (null keys are not addressable by a keyed
    // merge/delete) is checked by an expression RIDING the committed
    // writes themselves — never by a separate pre-count action: the
    // replaceSnapshotRange pattern. One write job carries the check for
    // free; a violation aborts the staged write before any commit.
    def nullKeyChecked(df: DataFrame): DataFrame = df.filter(
      when(col(keyCol).isNull,
        raise_error(lit(s"morCommit: merge-on-read key '$keyCol' " +
          "carries null(s): null keys are not addressable by a keyed " +
          "merge/delete")))
        .otherwise(lit(true)))
    updatesOpt.foreach { u =>
      m.schema.foreach { ps =>
        ps.fields.foreach { f =>
          require(u.schema.fields.exists(x =>
              x.name == f.name && x.dataType == f.dataType),
            s"mergeSnapshotMoR updates must carry every base column: " +
              s"'${f.name}: ${f.dataType.simpleString}' is missing or retyped")
        }
      }
    }
    val uid = claimStagingId(fs, destDir, prev + 1)
    def relLines(dir: Path, pfx: String): Seq[String] =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir)
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .map(_.getPath.getName).sorted.toSeq
        .map(n => s"$pfx${dir.getName}/${n}")
    val dataDir = new Path(s"$destDir/data/v$uid")
    val delDir = new Path(s"$destDir/data/v${uid}_del")
    // a riding null-key violation aborts the staged write mid-job:
    // reclaim the partial staging dirs and surface the contract
    // exception (the replaceSnapshotRange surfacing pattern)
    def stagedWrite[T](body: => T): T =
      try body catch {
        case e: Throwable if exceptionChain(e).exists(t =>
            t.getMessage != null && t.getMessage.contains("morCommit:")) =>
          fs.delete(dataDir, true); fs.delete(delDir, true)
          throw new IllegalArgumentException(
            exceptionChain(e).flatMap(t => Option(t.getMessage))
              .find(_.contains("morCommit:"))
              .getOrElse("morCommit: contract violation"), e)
      }
    val dataLines = updatesOpt match {
      case Some(u) =>
        // readers see the version schema's order; new columns append
        val ordered = m.schema match {
          case Some(ps) =>
            val nc = u.columns.filterNot(ps.fieldNames.contains)
            u.select((ps.fieldNames ++ nc).map(col).toSeq: _*)
          case None => u
        }
        stagedWrite(nullKeyChecked(ordered).write.mode("overwrite")
          .parquet(dataDir.toString))
        relLines(dataDir, "data/")
      case None => Seq.empty
    }
    // delete-set: an explicit key set rides the null guard on its own
    // write; a merge/update batch DERIVES its delete-set by reading the
    // key column back off the batch files just written (already proven
    // null-free) — distinct over a handful of fresh local footers, never
    // a re-evaluation of the caller's full upstream lineage (for a
    // streaming micro-batch that lineage re-runs the batch transform +
    // shuffle; this was q_stream_mor's per-commit regression).
    val delDf = delKeysOpt match {
      case Some(k) => nullKeyChecked(k.select(col(keyCol)))
      case None =>
        if (dataLines.isEmpty) updatesOpt.get.select(col(keyCol)).limit(0)
        else spark.read.parquet(dataDir.toString)
          .select(col(keyCol)).distinct()
    }
    stagedWrite(delDf.write.mode("overwrite").parquet(delDir.toString))
    val delLines0 = relLines(delDir, "!data/")
    // staged physical row counts off the freshly-written footers —
    // driver metadata reads over the batch files only, never a Spark
    // job; shared by the indexed line shape, the skipIfEmpty probe and
    // the #rows header (each footer opened at most once)
    def dirRowsByFile(dir: Path): Map[String, Long] = {
      import scala.collection.parallel.CollectionConverters._
      if (!fs.exists(dir)) Map.empty
      else fs.listStatus(dir)
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .map(_.getPath).toSeq.par
        .map(p => p.getName -> footerStats(conf, p, Nil)._1).seq.toMap
    }
    val dataRowsByFile = dirRowsByFile(dataDir)
    val delRowsByFile = dirRowsByFile(delDir)
    // on an indexed table every staged file gets its own bloom words
    // over the merge key (one distributed pass per dir, batch-sized) —
    // point lookups then skip non-admitting upsert AND delete files —
    // and carries its ROW COUNT (`path\trows\twords`), so the #rows
    // header and compaction sizing survive the MoR lifecycle
    def withWords(dir: Path, lines: Seq[String],
                  rowsByFile: Map[String, Long]): Seq[String] =
      m.bloom match {
        case Some((_, mBits, kk)) if lines.nonEmpty =>
          val words = perFileBloomWords(spark, dir.toString, keyCol,
            mBits, kk)
          val nWords =
            (mBits + Sketches.BloomWordBits - 1) / Sketches.BloomWordBits
          val empty = Array.fill(nWords)(0L).mkString(",")
          lines.map { l =>
            val name = l.split("/").last
            s"$l\t${rowsByFile.getOrElse(name, 0L)}" +
              s"\t${words.getOrElse(name, empty)}"
          }
        case _ => lines
      }
    val dataLinesOut = withWords(dataDir, dataLines, dataRowsByFile)
    val delLines = withWords(delDir, delLines0, delRowsByFile)
    def dirRows(dir: Path): Long =
      (if (dir == dataDir) dataRowsByFile else delRowsByFile).values.sum
    // predicate DML with zero matches: no spurious tombstone version —
    // reclaim the (empty) staged dirs and report the base unchanged.
    // The emptiness check IS the footer listing of what was written, so
    // the caller needs no separate limit(1).count() probe scan.
    if (skipIfEmpty && dirRows(dataDir) + dirRows(delDir) == 0L) {
      fs.delete(dataDir, true); fs.delete(delDir, true)
      return None
    }
    // manifest: previous entries VERBATIM (refs stay one-line refs) +
    // the batch's lines — an MoR commit writes O(versions + batch)
    // bytes however big the table is. Schema header = base schema with
    // any new update columns appended (add-column evolution); stats
    // header carries so a later reconcile restores skipping.
    val outSchema: Option[org.apache.spark.sql.types.StructType] =
      (m.schema, updatesOpt) match {
        case (Some(ps), Some(u)) =>
          val newFields = u.schema.fields
            .filterNot(f => ps.fieldNames.contains(f.name))
          Some(org.apache.spark.sql.types.StructType(
            (ps.fields ++ newFields).map(_.copy(nullable = true))))
        case (Some(ps), None) => Some(ps)
        case (None, Some(u)) => Some(org.apache.spark.sql.types.StructType(
          u.schema.fields.map(_.copy(nullable = true))))
        case (None, None) => None
      }
    // the dropped-name fence rides MoR commits too (same resurrection
    // hazard: an upsert batch re-stating a dropped name would surface
    // old files' bytes on every base row)
    val resurrected = updatesOpt.toSeq
      .flatMap(_.columns.filter(m.droppedCols))
    require(resurrected.isEmpty,
      s"column(s) ${resurrected.mkString(", ")} were DROPPED from " +
        s"$destDir and cannot be re-added by a merge-on-read batch")
    // #rows counts PHYSICAL data rows (the upsert log's superseded rows
    // included — resolve-time counts need the resolve); the batch's
    // rows come off the footers just written, prev's off its header
    // footer sweep only when the table actually carries a #rows header —
    // and only over the batch files just written (driver metadata reads)
    val carriedRowsBase: Option[Long] =
      carriedRowsOverride.getOrElse(m.rowsHeader)
    val rowsHeader = carriedRowsBase.map { r =>
      val batchRows = if (dataLines.isEmpty) 0L else dirRows(dataDir)
      s"#rows=${r + batchRows}"
    }
    val header = outSchema.map(s => s"#schema=${s.json}").toSeq ++
      (if (m.statsCols.isEmpty) Seq.empty
       else Seq(s"#stats=${m.statsCols.mkString(",")}")) ++
      m.bloom.map { case (bc, mb, kk) => s"#bloom=$bc,$mb,$kk" }.toSeq ++
      Seq(s"#morkey=$keyCol") ++ tag.map(t => s"#tag=$t").toSeq ++
      (if (m.droppedCols.isEmpty) Seq.empty
       else Seq(s"#dropped=${m.droppedCols.toSeq.sorted.mkString(",")}")) ++
      rowsHeader.toSeq
    Some((uid,
      header ++ carriedEntriesOverride.getOrElse(m.entries) ++
        dataLinesOut ++ delLines))
  }

  /** FOLD the merge-on-read upsert log — maintenance BETWEEN "live
    * with the resolve tax" and a full [[reconcileSnapshotMoR]]: merge
    * the accumulated K per-commit (batch, delete-set) pairs into ONE
    * pair and drop every superseded log file from the manifest,
    * touching ZERO base files. Where reconcile rewrites every base
    * file holding a touched key (O(touched base) — a real rewrite on a
    * hot 100 TB table), the fold costs O(log bytes): it reads only the
    * log, materializes each key's winning row once (per-key max
    * staging sequence — exactly the survivor set [[readSnapshot]]'s
    * resolve computes on every read), and commits winners + the union
    * delete-set at a single fresh sequence. Readers then resolve ONE
    * log generation however many MoR commits accumulated, so the
    * read-side broadcast stays bounded by the LIVE update set, not by
    * commit count.
    *
    * Soundness of the single-sequence re-stamp: the new staging id is
    * strictly above every committed sequence (claims are permanent and
    * first-free, the [[mergeSnapshotMoR]] monotonicity argument), and
    * the union delete-set carries every key the old log ever touched —
    * so base rows of touched keys still die, each winner survives as
    * its key's (now unique) latest touch, and pure-deleted keys stay
    * dead. Bloom tables keep their index: carried base lines keep
    * their words verbatim, the folded batch + delete files get fresh
    * words (the [[morStage]] machinery). Like every rewrite, a fold
    * removes manifest lines — change-feed consumers crossing it
    * re-bootstrap ([[changeFeed]]'s contract). Base-dependent
    * single-attempt CAS; the no-op cases (≤ 1 log generation) return
    * the current version unchanged. */
  def compactSnapshotMoRLog(spark: org.apache.spark.sql.SparkSession,
                            destDir: String,
                            tag: Option[String] = None): Int = {
    val prev = latestVersion(spark, destDir)
    require(prev >= 1,
      s"compactSnapshotMoRLog needs an existing version under $destDir")
    morFoldPlan(spark, destDir, prev) match {
      case None => prev // ≤ 1 log generation: nothing to fold
      case Some(p) =>
        morCommit(Some(p.winners), Some(p.allKeys), destDir, p.keyCol, tag,
          pinnedBase = Some(prev),
          carriedEntriesOverride = Some(p.carried),
          carriedRowsOverride = Some(p.baseRows))
    }
  }

  /** A computed-but-uncommitted MoR log fold: the winner rows, the
    * union delete-set, the carried (non-log) manifest entries and
    * their row total — everything [[morStage]] needs to stage the fold
    * against `keyCol`. */
  private[operators] final case class MorFoldPlan(
      winners: DataFrame, allKeys: DataFrame, carried: Seq[String],
      baseRows: Option[Long], keyCol: String)

  /** Compute the MoR log fold of version `prev` WITHOUT committing —
    * shared by [[compactSnapshotMoRLog]] (which follows with the CAS)
    * and [[SnapshotTxn.stageFold]] (which parks the staged fold in a
    * pending manifest so maintenance commits atomically with a
    * transaction's data writes). None when ≤ 1 log generation exists
    * (nothing to fold). */
  private[operators] def morFoldPlan(spark: org.apache.spark.sql.SparkSession,
                                     destDir: String,
                                     prev: Int): Option[MorFoldPlan] = {
    val m = readManifest(spark, destDir, prev)
    val delLines = m.lines.filter(isDeleteLine)
    val delSeqs = delLines.map(l => morSeq(linePath(l))).toSet
    if (delSeqs.size <= 1) return None // ≤ 1 log generation
    val keyCol = m.headers("morkey")
    val dataLines = m.lines.filterNot(isDeleteLine)
    val (upsertLines, baseLines) =
      dataLines.partition(l => delSeqs(morSeq(linePath(l))))
    val seqExpr = regexp_extract(input_file_name(),
      "/data/v(\\d+)(_del)?/", 1).cast("long")
    val delDf = spark.read
      .parquet(delLines.map(l => s"$destDir/${linePath(l)}").distinct: _*)
      .select(col(keyCol)).withColumn("__dseq", seqExpr)
    val dmax = delDf.groupBy(keyCol).agg(max("__dseq").as("__dmax"))
    // winners = each touched key's latest upsert row (keys whose last
    // touch was a pure delete simply have none)
    val winners =
      if (upsertLines.isEmpty) readSnapshot(spark, destDir, prev).limit(0)
      else readWithSchema(spark, m.schema,
          upsertLines.map(l => s"$destDir/${linePath(l)}"))
        .withColumn("__seq", seqExpr)
        .join(broadcast(dmax), Seq(keyCol))
        .filter(col("__dmax") === col("__seq"))
        .drop("__seq", "__dmax")
    val winnersOrdered = m.schema match {
      case Some(ps) => winners.select(ps.fieldNames.map(col).toSeq: _*)
      case None => winners
    }
    val allKeys = delDf.select(col(keyCol)).distinct()
    // carry: base entries verbatim (group-granular — an untouched delta
    // manifest stays its one-line reference); every folded log line drops
    def keepLine(l: String): Boolean =
      !isDeleteLine(l) && !delSeqs(morSeq(linePath(l)))
    val carried = m.groups.flatMap { g =>
      if (g.lines.forall(keepLine)) Seq(g.entry)
      else g.lines.filter(keepLine)
    }
    Some(MorFoldPlan(winnersOrdered, allKeys, carried,
      sumLineRows(baseLines), keyCol))
  }

  /** MERGE + DELETE in ONE merge-on-read commit: upsert `updates` by
    * `keyCol` AND tombstone `deleteKeys`, atomically (the committed
    * delete-set is the union of both key sets — a key in `deleteKeys`
    * without an update row disappears; update keys whole-row replace
    * as usual). This is the shape a CDC / view APPLIER needs per
    * window: its upserts and its deletes land — and replay — together,
    * under one commit tag, instead of as two commits a crash can tear
    * between ([[MaterializedView.refreshTxnJoinView]]'s write path).
    * O(batch) bytes, zero base files touched, same sequencing/refusal
    * rules as [[mergeSnapshotMoR]]/[[deleteSnapshotMoR]]. */
  def applySnapshotMoR(updates: DataFrame, deleteKeys: DataFrame,
                       destDir: String, keyCol: String,
                       tag: Option[String] = None): Int = {
    val allKeys = updates.select(col(keyCol))
      .unionByName(deleteKeys.select(col(keyCol))).distinct()
    morCommit(Some(updates), Some(allKeys), destDir, keyCol, tag)
  }

  /** Convert a merge-on-read table back to pure copy-on-write: resolve
    * the upsert log ONCE, rewriting only the base files that actually
    * contain a touched key (discovered by a column-pruned key scan,
    * stats-range-narrowed when the table's stats column is the merge
    * key) and materializing the winning upsert rows; untouched base
    * files — at 100 TB, almost all — carry by reference. Tombstones and
    * upsert-log files drop from the manifest (vacuum reclaims their
    * bytes once retention allows); every copy-on-write op and index
    * read works again on the result. Cost O(touched + updates), the
    * same class as ONE copy-on-write merge — amortized over every MoR
    * commit since the last reconcile. Base-dependent: a concurrent
    * commit aborts with [[ConcurrentSnapshotUpdate]]. Returns the new
    * version (the current one when no tombstones exist). */
  def reconcileSnapshotMoR(spark: org.apache.spark.sql.SparkSession,
                           destDir: String,
                           tag: Option[String] = None): Int = {
    val prev = latestVersion(spark, destDir)
    require(prev >= 1,
      s"reconcileSnapshotMoR needs an existing version under $destDir")
    val m = readManifest(spark, destDir, prev)
    reconcilePlan(spark, destDir, prev) match {
      case None => prev // no tombstones: already copy-on-write
      case Some(p) =>
        if (m.bloom.isDefined)
          // indexed lane (bloom on the merge key — the only MoR-legal
          // index): the reconciled delta gets fresh per-file words,
          // untouched base files keep theirs, and the #bloom header
          // survives — point lookups stay live across the MoR lifecycle
          // (upsert → point read → reconcile → point read)
          commitIndexedDelta(p.delta, destDir, m, prev, p.carried,
            p.carriedRows, tag, "reconcileSnapshotMoR")
        else commitVersion(p.delta, destDir, carryForward = true,
          statsCol = None, tag = tag, carriedOverride = Some(p.carried),
          prevManifestOpt = Some(m), baseVersion = Some(prev),
          statsColsMulti = m.statsCols, morAware = true,
          carriedRowsOverride = p.carriedRows)
    }
  }

  /** A computed-but-uncommitted MoR reconcile: the rewritten delta
    * (touched-base survivors + winning upsert rows), the untouched
    * carried entries and their row total. */
  private[operators] final case class ReconcilePlan(
      delta: DataFrame, carried: Seq[String], carriedRows: Option[Long])

  /** Compute the copy-on-write reconcile of version `prev` WITHOUT
    * committing — shared by [[reconcileSnapshotMoR]] (which follows
    * with the CAS) and [[SnapshotTxn.stageReconcile]] (which parks the
    * rewrite in a pending manifest so the reconcile commits atomically
    * with a transaction's data writes). None when the version carries
    * no tombstones (already pure copy-on-write). */
  private[operators] def reconcilePlan(spark: org.apache.spark.sql.SparkSession,
                                       destDir: String,
                                       prev: Int): Option[ReconcilePlan] = {
    val m = readManifest(spark, destDir, prev)
    val delLines = m.lines.filter(isDeleteLine)
    if (delLines.isEmpty) return None
    val keyCol = m.headers("morkey")
    val delSeqs = delLines.map(l => morSeq(linePath(l))).toSet
    val dataLines = m.lines.filterNot(isDeleteLine)
    val (upsertLines, baseLines) =
      dataLines.partition(l => delSeqs(morSeq(linePath(l))))
    val seqExpr = regexp_extract(input_file_name(),
      "/data/v(\\d+)(_del)?/", 1).cast("long")
    val delDf = spark.read
      .parquet(delLines.map(l => s"$destDir/${linePath(l)}").distinct: _*)
      .select(col(keyCol)).withColumn("__dseq", seqExpr)
    val dKeys = delDf.select(keyCol).distinct()
    // touched-base discovery mirrors mergeSnapshot: stats-range narrow
    // when the stats column IS the key, then the exact semi-join
    val isIntegralKey = m.schema.exists(_.fields.exists(f =>
      f.name == keyCol && (f.dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType => true
        case _ => false
      })))
    val candidates: Seq[String] =
      if (m.statsCol.contains(keyCol) && isIntegralKey) {
        val mm = dKeys.agg(min(col(keyCol)).cast("long"),
          max(col(keyCol)).cast("long")).head()
        if (mm.isNullAt(0)) Seq.empty
        else baseLines.filter(lineOverlaps(_, 0, mm.getLong(0),
          mm.getLong(1), hasBloom = m.bloom.isDefined)).map(linePath)
      } else baseLines.map(linePath)
    def lastTwo(p: String): String = p.split("/").takeRight(2).mkString("/")
    // bounded collect: one row per touched base file
    val touched =
      if (candidates.isEmpty) Set.empty[String]
      else readWithSchema(spark, m.schema,
          candidates.map(f => s"$destDir/$f"))
        .select(substring_index(input_file_name(), "/", -2).as("__f"),
          col(keyCol))
        .join(dKeys, Seq(keyCol), "left_semi")
        .select("__f").distinct().collect().map(_.getString(0)).toSet
    def keepLine(l: String): Boolean =
      !isDeleteLine(l) && !delSeqs(morSeq(linePath(l))) &&
        !touched(lastTwo(linePath(l)))
    val carried = m.groups.flatMap { g =>
      if (g.lines.forall(keepLine)) Seq(g.entry)
      else g.lines.filter(keepLine)
    }
    val touchedPaths = baseLines.map(linePath)
      .filter(p => touched(lastTwo(p)))
    val survivors =
      if (touchedPaths.isEmpty) None
      else Some(readWithSchema(spark, m.schema,
          touchedPaths.map(f => s"$destDir/$f"))
        .join(dKeys, Seq(keyCol), "left_anti"))
    val dmax = delDf.groupBy(keyCol).agg(max("__dseq").as("__dmax"))
    val winners =
      if (upsertLines.isEmpty) None
      else Some(readWithSchema(spark, m.schema,
          upsertLines.map(l => s"$destDir/${linePath(l)}"))
        .withColumn("__seq", seqExpr)
        .join(broadcast(dmax), Seq(keyCol))
        .filter(col("__dmax") === col("__seq"))
        .drop("__seq", "__dmax"))
    val deltaParts = survivors.toSeq ++ winners.toSeq
    val delta0 = deltaParts match {
      case Seq() => readSnapshot(spark, destDir, prev).limit(0)
      case parts => parts.reduce(_.unionByName(_))
    }
    val delta = m.schema match {
      case Some(ps) => delta0.select(ps.fieldNames.map(col).toSeq: _*)
      case None => delta0
    }
    Some(ReconcilePlan(delta, carried,
      sumLineRows(m.lines.filter(keepLine))))
  }

  /** Per-file (rows, per-column (min, max)) of integral columns, read
    * from the PARQUET FOOTER — no data pass; the writer already
    * computed the row-group statistics, collecting them is a metadata
    * read. This is what lets a manifest carry skipping stats for free
    * at publish time. A column whose blocks carried no usable stats
    * comes back with mn > mx (the caller's keep-conservative signal). */
  private[operators] def footerStats(conf: org.apache.hadoop.conf.Configuration,
                          path: org.apache.hadoop.fs.Path,
                          statsCols: Seq[String]): (Long, Array[(Long, Long)]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      var rows = 0L
      val mn = Array.fill(statsCols.length)(Long.MaxValue)
      val mx = Array.fill(statsCols.length)(Long.MinValue)
      blocks.foreach { b =>
        rows += b.getRowCount
        statsCols.zipWithIndex.foreach { case (sc, i) =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == sc)
            .foreach { c =>
              val st = c.getStatistics
              if (st != null && st.hasNonNullValue) {
                mn(i) = math.min(mn(i), st.genericGetMin
                  .asInstanceOf[Number].longValue())
                mx(i) = math.max(mx(i), st.genericGetMax
                  .asInstanceOf[Number].longValue())
              }
            }
        }
      }
      (rows, mn.zip(mx))
    } finally reader.close()
  }

  /** Thrown when a base-dependent publish (merge, compact) loses a
    * commit race: another version committed between reading the base
    * and this commit, so the computed carry-forward would silently
    * omit the winner's delta. The operation made NO visible change
    * (its staged data dir was cleaned up); retry it against the new
    * latest version. */
  final class ConcurrentSnapshotUpdate(msg: String)
    extends IllegalStateException(msg)

  /** Per-destination commit locks: the check-then-publish in
    * [[tryCommitManifest]] is atomic within this driver JVM — the
    * engine's publish model is one driver per table, so this is the
    * serialization point for racing writers (threads, streams,
    * maintenance) of that driver. Across SEPARATE drivers the publish
    * primitive itself is the guard: HDFS-style stores refuse a rename
    * onto an existing destination, and local paths commit via an
    * atomic hard link (EEXIST on a taken slot) because raw local
    * rename would overwrite. */
  private[operators] val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `body` holding the commit locks of EVERY given destination
    * (qualified URIs), acquired in sorted order — the deadlock-free
    * multi-table serialization point a transaction commit needs.
    * Reentrant with [[tryCommitManifest]]'s own per-destination lock. */
  private[operators] def withCommitLocks[T](keys: Seq[String])(body: => T): T = {
    def go(ls: List[Object]): T = ls match {
      case Nil => body
      case h :: t => h.synchronized(go(t))
    }
    go(keys.distinct.sorted
      .map(k => commitLocks.computeIfAbsent(k, _ => new Object)).toList)
  }

  /** Atomically claim a STAGING id: exclusive-create of
    * `manifest/.claim_v<k>` (create-no-overwrite — atomic). The id
    * names this publisher's private `data/v<k>` directory, delta
    * manifest `manifest/d<k>.txt` and manifest temp file, so no two
    * publishers ever write the same path. Claims are NEVER deleted:
    * a zombie publisher that wakes holding an old id must still own
    * its directory exclusively, which only holds if the id can never
    * be re-issued. A crashed publish leaves a stale claim + orphan
    * staging ([[vacuumOrphans]] reclaims the data; the claim file
    * itself is bytes-sized and stays). Manifest VERSION numbers are
    * assigned separately at commit time ([[tryCommitManifest]]) and
    * stay contiguous — staging ids and version numbers coincide only
    * in the crash-free single-writer case. */
  private[operators] def claimStagingId(fs: org.apache.hadoop.fs.FileSystem,
                             destDir: String, from: Int): Int = {
    import org.apache.hadoop.fs.Path
    fs.mkdirs(new Path(s"$destDir/manifest"))
    var v = math.max(from, 1)
    var claimed = false
    while (!claimed) {
      require(v < from + 100000,
        s"claimStagingId: 100000 consecutive claimed ids under " +
          s"$destDir — run vacuumOrphans and inspect .claim_v* files")
      try {
        val p = new Path(s"$destDir/manifest/.claim_v$v")
        val qualified = fs.makeQualified(p)
        val sch = qualified.toUri.getScheme
        if (sch == null || sch == "file")
          // Hadoop's local create(overwrite=false) is exists-then-create
          // (TOCTOU: two racing claimants can both pass the check and
          // share an id — colliding in data/v<k>/_temporary). NIO
          // createFile is O_CREAT|O_EXCL: exactly one racer wins.
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(qualified.toUri.getPath))
        else fs.create(p, false).close()
        claimed = true
      } catch {
        case _: java.io.IOException => v += 1 // id taken; next
      }
    }
    v
  }

  private def commitVersion(df: DataFrame, destDir: String,
                            carryForward: Boolean,
                            statsCol: Option[String],
                            carriedOverride: Option[Seq[String]] = None,
                            tag: Option[String] = None,
                            prevManifestOpt: Option[ManifestData] = None,
                            statsColsMulti: Seq[String] = Nil,
                            baseVersion: Option[Int] = None,
                            morAware: Boolean = false,
                            carriedRowsOverride: Option[Long] = None): Int = {
    import org.apache.hadoop.fs.Path
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(destDir).getFileSystem(conf)
    // stage the delta under an exclusively-owned id — data is written
    // before any commit decision, into a directory no other publisher
    // can touch, so racing writers can never clobber each other's bytes
    val uid = claimStagingId(fs, destDir, latestVersion(spark, destDir) + 1)
    val dataDir = new Path(s"$destDir/data/v$uid")
    df.write.mode("overwrite").parquet(dataDir.toString)
    val parts = fs.listStatus(dataDir)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(_.getPath).sortBy(_.getName)
    // footer reads are independent metadata fetches; at large file
    // counts a serial loop is the publish bottleneck (r10 rehearsal:
    // 800 footers dominate the 10 s publish), so fan them out on the
    // driver — still metadata-sized work, just not serialized
    // per-file row counts, shared between the stats lines and the
    // version's #rows header — each footer is opened at most once
    val rowsCache =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    def newFileLines(statsCols: Seq[String]): Seq[String] = {
      import scala.collection.parallel.CollectionConverters._
      parts.par.map { p =>
        val rel = s"data/v$uid/${p.getName}"
        if (statsCols.isEmpty) rel
        else {
          val (rows, mm) = footerStats(conf, p, statsCols)
          rowsCache.put(p.getName, rows)
          // mn > mx ⇔ no block carried usable stats for that column
          // (stats disabled, or column all-null in every block that
          // recorded them). Emitting sentinel min/max would make
          // filesForRange PRUNE the file — the opposite of the
          // "skipping must never lose rows" invariant — so emit the
          // bare path and let the catch-all keep it.
          if (mm.exists { case (mn, mx) => mn > mx }) rel
          else s"$rel\t$rows\t" +
            mm.map { case (mn, mx) => s"$mn\t$mx" }.mkString("\t")
        }
      }.seq.toSeq
    }
    val lineCache = scala.collection.mutable.Map.empty[Seq[String], Seq[String]]
    // the delta's exact row count, known AT COMMIT from the footers the
    // stats pass already opened (a stats-less publish pays one extra
    // parallel rows-only footer pass — still metadata-sized); feeds the
    // #rows header that makes snapshotHistory O(versions)
    lazy val deltaRows: Long = {
      import scala.collection.parallel.CollectionConverters._
      parts.par.map(p => Option(rowsCache.get(p.getName))
        .map(_.longValue)
        .getOrElse(footerStats(conf, p, Nil)._1)).sum
    }

    // Optimistic-CAS commit loop: build the manifest against the
    // CURRENT latest version, then publish at latest+1 — if that slot
    // was taken in the meantime, rebuild against the fresh base and try
    // again. This is what makes concurrent carry-forward publishes
    // LOSSLESS: a loser can never commit a manifest that omits the
    // winner's delta, because its base is re-read after every lost race.
    var attempt = 0
    var committed = -1
    while (committed < 0) {
      attempt += 1
      if (attempt > 50)
        throw new ConcurrentSnapshotUpdate(
          s"publish to $destDir lost $attempt commit races; giving up " +
            "(staged data left for vacuumOrphans)")
      val base = latestVersion(spark, destDir)
      // merge/compact computed their carried set against a PINNED base
      // version: if the table advanced past it, that computation is
      // stale (its anti-joins ran against old files) — clean up the
      // staged delta and surface a retryable conflict instead of
      // committing a manifest that silently drops the winner's changes
      baseVersion.foreach { bv =>
        if (base != bv) {
          fs.delete(dataDir, true)
          throw new ConcurrentSnapshotUpdate(
            s"base of $destDir advanced v$bv -> v$base during a " +
              "base-dependent publish (merge/compact); retry against " +
              "the new latest version")
        }
      }
      val prevManifest =
        if (carriedOverride.isDefined) prevManifestOpt
        else if (carryForward && base >= 1)
          Some(readManifest(spark, destDir, base))
        else None
      // a carry-forward commit built without MoR awareness would carry
      // tombstone lines it doesn't understand (and its own rows would
      // sit OUTSIDE the upsert log's sequence ordering) — refuse; the
      // caller merges via mergeSnapshotMoR or reconciles first
      if (carryForward && !morAware)
        prevManifest.foreach(pm =>
          requireNoTombstones(pm, destDir, base, "a carry-forward publish"))
      // Schema evolution (add-column only): the manifest records the
      // version's schema, so a reader applies THIS version's schema to
      // every referenced file — files carried forward from before the
      // column existed null-fill it at scan time (no data rewritten,
      // the Iceberg/Delta add-column story). An append must keep every
      // previous field at its exact type: silently dropping or retyping
      // a column would corrupt carried-forward reads.
      if (carryForward)
        prevManifest.flatMap(_.schema).foreach { prevSchema =>
          prevSchema.fields.foreach { f =>
            val cur = df.schema.fields.find(_.name == f.name)
            require(cur.exists(_.dataType == f.dataType),
              s"appendSnapshot schema evolution is add-column only: field " +
                s"'${f.name}: ${f.dataType.simpleString}' of v$base is " +
                cur.fold("missing")(c =>
                  s"retyped to ${c.dataType.simpleString}") +
                " in the appended batch")
          }
        }
      // single-column callers keep the Option face; multi-column
      // publishes (Z-order) pass the full list. A carry-forward commit
      // with NO caller-stated stats INHERITS the base's list (Iceberg
      // table-property semantics: an append must not silently drop the
      // table's skipping) — a full publish defines the table fresh.
      val statsCols =
        if (statsColsMulti.nonEmpty) statsColsMulti
        else if (statsCol.nonEmpty || !carryForward) statsCol.toSeq
        else prevManifest.map(_.statsCols).getOrElse(Nil)
      val newFiles = lineCache.getOrElseUpdate(statsCols,
        newFileLines(statsCols))
      // Carried ENTRIES, not expanded lines: in the fast path (stats
      // unchanged, no bloom — every ordinary append) the previous
      // version's entries are carried VERBATIM, so a delta-manifest
      // reference stays a one-line reference and the commit writes
      // O(versions + delta) bytes however many files the table holds.
      val carriedEntriesRaw = carriedOverride.getOrElse(
        prevManifest.map(_.entries).getOrElse(Seq.empty))
      val sameStats = prevManifest.forall(_.statsCols == statsCols)
      // Carried lines keep their stats text ONLY while the stats list
      // is unchanged: under a DIFFERENT statsCol the old min/max would
      // be read as the new column's and filesForRange could prune files
      // that DO contain matching rows (silent row loss). Strip
      // mismatched carried lines to the bare path — the catch-all keeps
      // stats-less files, trading skipping for correctness. A base
      // published with a BLOOM doesn't keep its header through this
      // path, so carried bloom WORDS would dangle: with the stats list
      // unchanged only the words field is dropped (stats survive);
      // otherwise strip to the bare path. Both strip paths materialize
      // references into inline lines (correct, and rare by design).
      val carried: Seq[String] =
        if (carriedEntriesRaw.isEmpty ||
            (sameStats && prevManifest.forall(_.bloom.isEmpty)))
          carriedEntriesRaw
        else {
          val ls = expandEntries(fs, destDir, carriedEntriesRaw)
          if (sameStats) // bloom present: drop only the words field
            ls.map { l =>
              val f = l.split("\t")
              if (statsCols.nonEmpty && f.length == 3 + 2 * statsCols.length)
                f.dropRight(1).mkString("\t")
              else linePath(l)
            }
          else ls.map(linePath)
        }
      // the dropped-name set persists through every carry-forward
      // commit, and a batch re-introducing a dropped name refuses: on
      // a name-based layout the old files still hold that column's
      // bytes, so a re-added name would RESURRECT pre-drop values on
      // old rows (the field-ID problem Iceberg solves structurally;
      // this layout solves it by fencing the name)
      val dropped: Set[String] =
        if (carryForward) prevManifest.map(_.droppedCols).getOrElse(Set.empty)
        else Set.empty
      val resurrected = df.columns.filter(dropped)
      require(resurrected.isEmpty,
        s"column(s) ${resurrected.mkString(", ")} were DROPPED from " +
          s"$destDir and cannot be re-added (pre-drop files would " +
          "resurrect their old values); publish a fresh table instead")
      val schemaHeader =
        s"#schema=${org.apache.spark.sql.types.StructType(
          df.schema.fields.map(_.copy(nullable = true))).json}"
      // version row count = carried rows + delta rows. Carried rows:
      // a plain carry-forward inherits the base's #rows header; a
      // transformed carry (merge/replace/compact/reconcile) passes the
      // sum its caller already computed over the kept lines. Unknown on
      // either side ⇒ header omitted, never guessed.
      val carriedRows: Option[Long] =
        if (carriedOverride.isDefined) carriedRowsOverride
        else if (carryForward) prevManifest.flatMap(_.rowsHeader)
        else Some(0L)
      val header = schemaHeader +:
        ((if (statsCols.isEmpty) Seq.empty
          else Seq(s"#stats=${statsCols.mkString(",")}")) ++
          tag.map(t => s"#tag=$t").toSeq ++
          (if (dropped.isEmpty) Seq.empty
           else Seq(s"#dropped=${dropped.toSeq.sorted.mkString(",")}")) ++
          carriedRows.map(cr => s"#rows=${cr + deltaRows}").toSeq)
      // the delta's file lines live in their own immutable delta
      // manifest; the version file carries one reference line for them
      val deltaEntry =
        if (newFiles.isEmpty) Seq.empty
        else {
          writeFileAtomic(fs, s"$destDir/manifest/d$uid.txt",
            s"$destDir/manifest/.dtmp_v$uid", newFiles)
          Seq(s"@manifest/d$uid.txt")
        }
      if (tryCommitManifest(fs, destDir, base + 1, uid,
          header ++ carried ++ deltaEntry))
        committed = base + 1
      // else: slot taken by a concurrent commit — loop, fresh base
    }
    committed
  }

  /** Write `content` to `tmpPath` then rename to `path` — used for
    * delta manifests, whose path is exclusively owned via the staging
    * id (the rename only hides partial writes from concurrent
    * readers; there is no CAS to lose). */
  private[operators] def writeFileAtomic(fs: org.apache.hadoop.fs.FileSystem,
                              path: String, tmpPath: String,
                              content: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val tmp = new Path(tmpPath)
    val out = fs.create(tmp, true)
    out.write(content.mkString("\n").getBytes("UTF-8"))
    out.close()
    fs.delete(new Path(path), false)
    if (!fs.rename(tmp, new Path(path)))
      throw new IllegalStateException(s"failed to write $path")
  }

  /** Publish manifest `content` as version `v` IF AND ONLY IF v is
    * still free — the commit point of every publish path. Content is
    * written to a temp file named by the publisher's exclusive staging
    * id (never contended), then check-and-published to `v<v>.txt` under
    * the destination's commit lock. Returns false when the slot was
    * taken by a concurrent commit (caller rebuilds against the fresh
    * base and retries at the next slot).
    *
    * Cross-PROCESS safety: on `file:` URIs Hadoop's rename OVERWRITES
    * an existing destination, so the publish step there is an atomic
    * HARD LINK (POSIX link(2) fails with EEXIST if the target exists) —
    * two separate JVMs racing the same local slot lose loudly instead
    * of silently clobbering a committed version. On stores whose rename
    * refuses an existing destination (HDFS) the rename itself is the
    * cross-process guard; the JVM lock stays as the in-driver fast
    * path either way. */
  private[operators] def tryCommitManifest(fs: org.apache.hadoop.fs.FileSystem,
                                destDir: String, v: Int, uid: Int,
                                content: Seq[String]): Boolean = {
    import org.apache.hadoop.fs.Path
    fs.mkdirs(new Path(s"$destDir/manifest"))
    val tmp = new Path(s"$destDir/manifest/.tmp_v$uid")
    val out = fs.create(tmp, true)
    out.write(content.mkString("\n").getBytes("UTF-8"))
    out.close()
    val target = new Path(s"$destDir/manifest/v$v.txt")
    val qualified = fs.makeQualified(new Path(destDir))
    val lock = commitLocks.computeIfAbsent(qualified.toString, _ => new Object)
    val isLocal = {
      val sch = qualified.toUri.getScheme
      sch == null || sch == "file"
    }
    lock.synchronized {
      if (fs.exists(target)) { fs.delete(tmp, false); false }
      else if (isLocal) {
        val tDir = fs.makeQualified(target).toUri.getPath
        val sDir = fs.makeQualified(tmp).toUri.getPath
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(tDir), java.nio.file.Paths.get(sDir))
          fs.delete(tmp, false)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            fs.delete(tmp, false); false
          case _: UnsupportedOperationException | _: java.io.IOException =>
            // no hard links on this mount (FAT/exFAT and some NFS/FUSE
            // surface EPERM/EOPNOTSUPP as FileSystemException, not
            // UnsupportedOperationException): degrade to rename — the
            // in-JVM lock remains the only guard (the documented
            // single-driver-per-table scope)
            fs.rename(tmp, target)
        }
      } else fs.rename(tmp, target)
    }
  }

  /** One entry of a version manifest together with the data-file lines
    * it resolves to: an inline line resolves to itself; a
    * `@manifest/d<id>.txt` reference resolves to that delta manifest's
    * lines. Group-granular carry is what keeps merge/compact commits
    * metadata-sized: a group none of whose files were touched is
    * carried as its one-line entry, untouched. */
  private[graft] final case class ManifestGroup(entry: String,
                                                lines: Seq[String])

  /** One parsed manifest: header key→value plus the entry list. A
    * version manifest is TWO-LEVEL (the Iceberg manifest-list shape):
    * its entries are either inline data-file lines or one-line
    * references to immutable per-publish DELTA manifests — so an
    * append's commit writes O(versions + delta bytes), never
    * O(total files), and a million-file table's version file stays a
    * few KB. Headers (tag, schema, stats) parse without touching any
    * referenced file; `groups`/`lines` resolve references lazily. */
  private[graft] final class ManifestData(
      val headers: Map[String, String],
      val entries: Seq[String],
      resolve: String => Seq[String]) {
    lazy val groups: Seq[ManifestGroup] = entries.map { e =>
      if (e.startsWith("@")) ManifestGroup(e, resolve(e.drop(1)))
      else ManifestGroup(e, Seq(e))
    }
    lazy val lines: Seq[String] = groups.flatMap(_.lines)
    /** The stats column list of a version ("#stats=a" or "#stats=a,b"). */
    def statsCols: Seq[String] =
      headers.get("stats").map(_.split(",").toSeq).getOrElse(Nil)
    def statsCol: Option[String] = statsCols.headOption
    def tag: Option[String] = headers.get("tag")
    def schema: Option[org.apache.spark.sql.types.StructType] =
      headers.get("schema").map(j => org.apache.spark.sql.types.DataType
        .fromJson(j).asInstanceOf[org.apache.spark.sql.types.StructType])
    def bloom: Option[(String, Int, Int)] =
      headers.get("bloom").map(_.split(",") match {
        case Array(c, m, kk) => (c, m.toInt, kk.toInt)
      })
    /** Column names DROPPED from this table's history
      * ([[dropSnapshotColumn]]) — re-adding one is refused to prevent
      * name-based resurrection of pre-drop file values. */
    def droppedCols: Set[String] =
      headers.get("dropped").map(_.split(",").toSet).getOrElse(Set.empty)
    /** The version's total data-file row count, recorded AT COMMIT
      * (`#rows=` header) — what lets [[snapshotHistory]] answer exact
      * counts in O(versions) manifest reads without expanding any
      * delta manifest. Physical rows of referenced data files; on a
      * tombstoned (merge-on-read) version that includes superseded
      * upsert rows. Absent on pre-header manifests and when a carried
      * line's count was unknowable. */
    def rowsHeader: Option[Long] =
      headers.get("rows").flatMap(s =>
        if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong) else None)
  }

  private[operators] def readTextLines(fs: org.apache.hadoop.fs.FileSystem,
                            path: String): Seq[String] = {
    val in = fs.open(new org.apache.hadoop.fs.Path(path))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    txt.split("\n").toSeq.filter(_.nonEmpty)
  }

  /** Resolve a mixed entry list (inline lines + `@`-references) to flat
    * data-file lines — the slow path used only when carried entries
    * must be transformed line-by-line (stats strip, merge/compact). */
  private def expandEntries(fs: org.apache.hadoop.fs.FileSystem,
                            destDir: String,
                            entries: Seq[String]): Seq[String] =
    entries.flatMap { e =>
      if (e.startsWith("@")) readTextLines(fs, s"$destDir/${e.drop(1)}")
      else Seq(e)
    }

  private[operators] def readManifest(spark: org.apache.spark.sql.SparkSession,
                           destDir: String, v: Int): ManifestData = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(destDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val all = readTextLines(fs, s"$destDir/manifest/v$v.txt")
    val headers = all.filter(_.startsWith("#")).flatMap { h =>
      h.stripPrefix("#").split("=", 2) match {
        case Array(k, value) => Some(k -> value)
        case _ => None
      }
    }.toMap
    new ManifestData(headers, all.filterNot(_.startsWith("#")),
      rel => readTextLines(fs, s"$destDir/$rel"))
  }

  private[graft] def manifestLines(spark: org.apache.spark.sql.SparkSession,
                                   destDir: String, v: Int): Seq[String] =
    readManifest(spark, destDir, v).lines

  /** The stats column list version `v` was published with (empty when
    * none) — lets callers decide whether a range read prunes on the
    * column THEY mean. */
  private[graft] def statsColsOf(spark: org.apache.spark.sql.SparkSession,
                                 destDir: String, v: Int): Seq[String] =
    readManifest(spark, destDir, v).statsCols

  /** The caller-supplied tag a version was committed with, if any.
    * Because the tag rides the manifest — whose RENAME is the commit
    * point — "did version k commit with tag t" is an atomic question:
    * this is what lets a streaming producer make publish-per-batch
    * exactly-once (replay of an already-committed batch sees its own
    * tag on the latest version and skips). */
  def versionTag(spark: org.apache.spark.sql.SparkSession,
                 destDir: String, v: Int): Option[String] =
    readManifest(spark, destDir, v).tag

  /** Parse the numeric id of a `batch=<j>` tag. A non-numeric suffix
    * is MALFORMED, not ignorable noise: the replay guards compare
    * these ids numerically to decide "did this batch already commit",
    * and silently skipping a bad tag could turn that decision into a
    * double-apply. Loud error naming the carrier instead — rename the
    * foreign tag (any prefix other than `batch=` is free) rather than
    * committing non-numeric `batch=` tags on a stream-written table
    * or log. */
  private[graft] def parseBatchTag(tag: String, carrier: String): Long = {
    val s = tag.stripPrefix("batch=")
    require(s.nonEmpty && s.length <= 18 && s.forall(_.isDigit),
      s"malformed batch tag '$tag' on $carrier: `batch=` tags are " +
        "reserved for the streaming replay guard and must carry a " +
        "decimal batch id; commit foreign tags under a different prefix")
    s.toLong
  }

  /** The table's PRUNED-BATCH replay watermark (`manifest/batchwm.txt`)
    * — [[vacuum]] writes it whenever manifests are pruned: the largest
    * `batch=<j>` id among every version a downward tag scan can no
    * longer reach (`-1` = vacuum ran and nothing a scan could miss was
    * batch-tagged). None = the table has never been vacuumed by a
    * watermark-aware vacuum, so a scan gap is UNDECIDABLE and the
    * replay guard must refuse rather than guess (the txn log's
    * `#tagwm=` contract at table granularity). */
  private[graft] def batchWatermark(fs: org.apache.hadoop.fs.FileSystem,
                                    destDir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$destDir/manifest/batchwm.txt")
    if (!fs.exists(p)) None
    else readTextLines(fs, p.toString).headOption.map { s =>
      val t = s.trim
      // loud, named failure (advice r16 #4): a corrupt watermark must
      // not surface as a bare NumberFormatException from deep inside
      // the replay guard — name the file and the heal path, exactly as
      // parseBatchTag does for malformed tags
      // toLongOption: a >19-digit value passes the regex but overflows —
      // it must get the same named failure, not a bare
      // NumberFormatException (advice r17)
      val parsed = if (t.isEmpty || !t.matches("-?[0-9]+")) None
                   else t.toLongOption
      parsed.getOrElse(throw new IllegalArgumentException(
        s"corrupt pruned-batch watermark '$t' in $p — expected a " +
          "single decimal batch id; restore the file from a backup " +
          "or re-mint it (see Ingest.lastBatchTag's refusal message) " +
          "before replay decisions can be answered for this table"))
    }
  }

  /** Read a file set under a recorded version schema when one exists
    * (older files missing an evolved column null-fill it); fall back to
    * parquet inference for pre-schema-tracking manifests. */
  private[operators] def readWithSchema(spark: org.apache.spark.sql.SparkSession,
                             schema: Option[org.apache.spark.sql.types.StructType],
                             files: Seq[String]): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).parquet(files: _*)
      case None    => spark.read.parquet(files: _*)
    }

  /** A manifest line's file path. Tombstone lines (merge-on-read
    * delete-sets, [[mergeSnapshotMoR]]) are marked with a leading `!`;
    * the path itself never carries it. */
  private[operators] def linePath(l: String): String =
    l.stripPrefix("!").split("\t").head

  /** Is this manifest line a merge-on-read tombstone (delete-set file)? */
  private def isDeleteLine(l: String): Boolean = l.startsWith("!")

  /** Per-file row count of a manifest line: field 1 of any stats line
    * (`path\trows\tmn\tmx…`, with or without a trailing bloom-words
    * field — arity is NOT assumed even, the round-11 bug) and of the
    * 3-field bloom+rows shape (`path\trows\twords`, what stats-less
    * indexed publishes emit — no other 3-field shape exists: stats
    * always come as (min, max) pairs after the count, so a stats line
    * is ≥ 4 fields). None for bare-path and legacy 2-field
    * bloom-only lines. */
  private def lineRowCount(l: String): Option[Long] = {
    val f = l.split("\t")
    if (f.length >= 3 && f(1).nonEmpty && f(1).forall(_.isDigit))
      Some(f(1).toLong)
    else None
  }

  /** Sum of the lines' per-file row counts, None when any line lacks
    * one (header omitted rather than guessed). */
  private def sumLineRows(lines: Seq[String]): Option[Long] = {
    val cs = lines.map(lineRowCount)
    if (cs.forall(_.isDefined)) Some(cs.flatten.sum) else None
  }

  /** Staging sequence of a data/delete file path (`data/v<id>/…` or
    * `data/v<id>_del/…`). Under the MoR protocol's base-dependent CAS,
    * committed MoR ids are strictly increasing in commit order (claims
    * are permanent and first-free, so a later claim is always higher),
    * which is what makes the id usable as the upsert-log sequence. */
  private def morSeq(relPath: String): Long =
    relPath.split("/")(1).stripPrefix("v").stripSuffix("_del").toLong

  /** Refuse an operation that has no defined semantics over tombstoned
    * (merge-on-read) manifests — the caller reconciles first. Stats /
    * bloom / CDC reads and copy-on-write mutations all refuse rather
    * than silently treating delete-set files as data. */
  private[operators] def requireNoTombstones(m: ManifestData, destDir: String,
                                  v: Int, op: String): Unit =
    require(!m.lines.exists(isDeleteLine),
      s"$op does not operate on a merge-on-read table (v$v of $destDir " +
        "carries tombstones); run reconcileSnapshotMoR first")

  /** Highest committed version, 0 if none. A `.tmp_` manifest (crashed
    * publish) is invisible — commit is the rename. */
  def latestVersion(spark: org.apache.spark.sql.SparkSession,
                    destDir: String): Int = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(destDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val dir = new Path(s"$destDir/manifest")
    if (!fs.exists(dir)) 0
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".txt") =>
        s.stripPrefix("v").stripSuffix(".txt").toInt }
      .foldLeft(0)(math.max)
  }

  /** Read version `v` exactly as published — only the manifest's files.
    * A merge-on-read version (tombstone lines present) resolves its
    * upsert log transparently ([[mergeSnapshotMoR]]): the reader you
    * already have keeps returning correct rows whichever write protocol
    * produced the version. */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession,
                   destDir: String, v: Int): DataFrame = {
    val m = readManifest(spark, destDir, v)
    if (m.lines.exists(isDeleteLine)) morRead(spark, destDir, m, v)
    else {
      val files = m.lines.map(l => s"$destDir/${linePath(l)}")
      require(files.nonEmpty, s"version $v under $destDir is empty/unknown")
      readWithSchema(spark, m.schema, files)
    }
  }

  /** The merge-on-read resolve: base rows survive unless their key was
    * ever touched by a delete-set; upsert rows (files whose staging id
    * has a delete-set — every MoR merge deletes the keys it re-states)
    * survive iff theirs is the LATEST touch of that key. One broadcast
    * join against the per-key max delete sequence — the read tax is
    * O(accumulated updates since the last reconcile), never O(table). */
  private def morRead(spark: org.apache.spark.sql.SparkSession,
                      destDir: String, m: ManifestData, v: Int): DataFrame = {
    val dataFiles = m.lines.filterNot(isDeleteLine)
      .map(l => s"$destDir/${linePath(l)}")
    require(dataFiles.nonEmpty, s"version $v under $destDir is empty/unknown")
    morResolve(spark, destDir, m, v, dataFiles)
  }

  /** The merge-on-read resolve over a CHOSEN data-file subset — shared
    * by the full read and the pruned predicate-delete scan. Sound on
    * any subset because survival is row-local given the per-key max
    * delete sequence: a base row survives iff its key was never
    * tombstoned, an upsert row iff its staging sequence IS the key's
    * latest touch — neither depends on which other files are read. */
  private def morResolve(spark: org.apache.spark.sql.SparkSession,
                         destDir: String, m: ManifestData, v: Int,
                         dataFiles: Seq[String]): DataFrame =
    morResolveWith(spark, destDir, m, v, dataFiles,
      m.lines.filter(isDeleteLine))

  /** [[morResolve]] with a CHOSEN delete-line subset — the bloom point
    * lookup restricts both sides to key-admitting files (sound: bloom
    * never false-negatives, so every delete file that could touch the
    * probed key is present; rows of other keys may resolve wrongly and
    * are removed by the caller's equality filter). All other callers
    * pass the full delete-line set.
    *
    * `delSeqs` stays ALL the manifest's delete sequences (not just the
    * subset's): an upsert data row whose own delete file was pruned must
    * still be recognized as upsert-log (its survival = being the key's
    * latest touch), never mistaken for a base row. */
  private def morResolveWith(spark: org.apache.spark.sql.SparkSession,
                             destDir: String, m: ManifestData, v: Int,
                             dataFiles: Seq[String],
                             delLines: Seq[String]): DataFrame = {
    val keyCol = m.headers.getOrElse("morkey", throw new IllegalStateException(
      s"v$v of $destDir carries tombstones but no #morkey header"))
    val delSeqs = m.lines.filter(isDeleteLine)
      .map(l => morSeq(linePath(l))).distinct
    val seqExpr = regexp_extract(input_file_name(),
      "/data/v(\\d+)(_del)?/", 1).cast("long")
    val dmax =
      if (delLines.isEmpty)
        // every delete file was pruned as non-admitting: no tombstone
        // can touch the caller's key, and true upsert rows of that key
        // cannot exist either (a merge's delete-set always carries its
        // own batch keys, so it would have admitted)
        readWithSchema(spark, m.schema, dataFiles).select(col(keyCol))
          .limit(0).withColumn("__dmax", lit(null).cast("long"))
      else spark.read
        .parquet(delLines.map(l => s"$destDir/${linePath(l)}").distinct: _*)
        .select(col(keyCol)).withColumn("__dseq", seqExpr)
        .groupBy(keyCol).agg(max("__dseq").as("__dmax"))
    val resolved = readWithSchema(spark, m.schema, dataFiles)
      .withColumn("__seq", seqExpr)
      .join(broadcast(dmax), Seq(keyCol), "left")
      .filter(when(col("__seq").isInCollection(delSeqs),
          col("__dmax") === col("__seq"))
        .otherwise(col("__dmax").isNull))
      .drop("__seq", "__dmax")
    // the key-join moved keyCol first; readers see the version schema's
    // column order regardless of write protocol
    m.schema match {
      case Some(s) => resolved.select(s.fieldNames.map(col).toSeq: _*)
      case None => resolved
    }
  }

  /** Does line `l` overlap [lo, hi] on the `idx`-th stats column?
    * Stats lines are `path\trows\tmn0\tmx0[\tmn1\tmx1…]`, with a
    * trailing bloom-words field when the manifest carries BOTH indexes
    * (`hasBloom`); a line without parseable stats for that column is
    * KEPT — skipping must never lose rows. */
  private def lineOverlaps(l: String, idx: Int, lo: Long, hi: Long,
                           hasBloom: Boolean): Boolean = {
    val f = l.split("\t")
    val statFields = f.length - 2 - (if (hasBloom) 1 else 0)
    val base = 2 + 2 * idx
    if (statFields >= 2 * (idx + 1) && statFields % 2 == 0)
      try f(base + 1).toLong >= lo && f(base).toLong <= hi
      catch { case _: NumberFormatException => true }
    else true
  }

  /** The manifest lines whose [min, max] stats on the FIRST stats
    * column overlap [lo, hi]. */
  private def linesForRange(m: ManifestData, lo: Long,
                            hi: Long): Seq[String] =
    m.lines.filter(lineOverlaps(_, 0, lo, hi, m.bloom.isDefined))
      .map(linePath)

  /** Manifest-stats FILE SKIPPING: the files of version `v` whose
    * [min, max] stats overlap [lo, hi] (files without stats are kept —
    * skipping must never lose rows). Driver-side manifest arithmetic,
    * no data touched. */
  def filesForRange(spark: org.apache.spark.sql.SparkSession,
                    destDir: String, v: Int, lo: Long, hi: Long): Seq[String] = {
    val m = readManifest(spark, destDir, v)
    requireNoTombstones(m, destDir, v, "filesForRange")
    linesForRange(m, lo, hi)
  }

  /** Range read with manifest-stats pruning + the precise residual
    * filter on the published stats column: only overlapping files are
    * opened (SnapshotTravelSpec pins the pruning), and the result
    * equals the full-scan filter by the no-false-negative overlap
    * rule. */
  def readSnapshotRange(spark: org.apache.spark.sql.SparkSession,
                        destDir: String, v: Int, lo: Long,
                        hi: Long): DataFrame = {
    val m = readManifest(spark, destDir, v)
    requireNoTombstones(m, destDir, v, "readSnapshotRange")
    val c = m.statsCol.getOrElse(
      throw new IllegalArgumentException(
        s"version $v of $destDir was published without a stats column"))
    val files = linesForRange(m, lo, hi).map(f => s"$destDir/$f")
    if (files.isEmpty)
      readSnapshot(spark, destDir, v).limit(0)
    else readWithSchema(spark, m.schema, files)
      .filter(col(c) >= lo && col(c) <= hi)
  }

  // ---------------------------------------------- Z-ordered snapshots
  /** Publish `df` Z-ordered on two integral dimensions, with BOTH
    * columns' per-file (min, max) in the manifest: rows range-partition
    * on the Morton code ([[Layout.zValue]]) into `nFiles` contiguous
    * curve segments and sort within each, so every file covers a small
    * 2-D bounding box — and [[readSnapshotBox]] then opens only files
    * whose box overlaps the query box, for ANY combination of both
    * predicates. This is Delta's OPTIMIZE ZORDER BY on the manifest
    * layout: file-level skipping (no directory explosion), composable
    * with time travel, vacuum and [[mergeSnapshot]] (which inherits the
    * full stats list, so skipping survives merges). One shuffle
    * (range by z) + local sort — no global sort. Dimensions should be
    * non-negative integrals (Morton interleaving garbles on negatives)
    * — but even then only CLUSTERING degrades: the manifest stats are
    * the files' true min/max, so skipping stays correct. */
  def publishSnapshotZOrdered(df: DataFrame, destDir: String,
                              aCol: String, bCol: String, bits: Int,
                              nFiles: Int,
                              tag: Option[String] = None): Int = {
    require(nFiles >= 1, s"need nFiles >= 1; got $nFiles")
    val shaped = df
      .withColumn("__z", Layout.zValue(col(aCol), col(bCol), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    commitVersion(shaped, destDir, carryForward = false, statsCol = None,
      tag = tag, statsColsMulti = Seq(aCol, bCol))
  }

  /** Re-cluster the latest version Z-ordered: appends land UNCLUSTERED
    * (their files' bounding boxes span whatever the batch carried), so
    * a stream-fed Z table's box-skipping decays — this is the periodic
    * maintenance that restores it (Delta's OPTIMIZE ZORDER BY run, as
    * opposed to the initial clustered write). Full rewrite by
    * definition (re-clustering moves every row); the previous version
    * still time-travels, vacuum reclaims it. Returns the new version. */
  def rezorderSnapshot(spark: org.apache.spark.sql.SparkSession,
                       destDir: String, aCol: String, bCol: String,
                       bits: Int, nFiles: Int,
                       tag: Option[String] = None): Int = {
    val v = latestVersion(spark, destDir)
    require(v >= 1,
      s"rezorderSnapshot needs an existing version under $destDir")
    publishSnapshotZOrdered(readSnapshot(spark, destDir, v), destDir,
      aCol, bCol, bits, nFiles, tag)
  }

  /** The files of version `v` whose per-file bounding box overlaps
    * [aLo,aHi] × [bLo,bHi] — driver-side manifest arithmetic over the
    * first TWO stats columns; stats-less lines are kept. */
  def filesForBox(spark: org.apache.spark.sql.SparkSession,
                  destDir: String, v: Int, aLo: Long, aHi: Long,
                  bLo: Long, bHi: Long): Seq[String] = {
    val m = readManifest(spark, destDir, v)
    requireNoTombstones(m, destDir, v, "filesForBox")
    m.lines
      .filter(l => lineOverlaps(l, 0, aLo, aHi, m.bloom.isDefined) &&
        lineOverlaps(l, 1, bLo, bHi, m.bloom.isDefined))
      .map(linePath)
  }

  /** 2-D box read with per-file bounding-box pruning on both published
    * stats columns + the exact residual filters (overlap is a strict
    * superset of the box, so the result equals the full-scan filter). */
  def readSnapshotBox(spark: org.apache.spark.sql.SparkSession,
                      destDir: String, v: Int, aLo: Long, aHi: Long,
                      bLo: Long, bHi: Long): DataFrame = {
    val m = readManifest(spark, destDir, v)
    requireNoTombstones(m, destDir, v, "readSnapshotBox")
    require(m.statsCols.length >= 2,
      s"version $v of $destDir needs two stats columns for box reads " +
        s"(has ${m.statsCols.mkString(",")})")
    val Seq(ca, cb) = m.statsCols.take(2)
    val files = m.lines
      .filter(l => lineOverlaps(l, 0, aLo, aHi, m.bloom.isDefined) &&
        lineOverlaps(l, 1, bLo, bHi, m.bloom.isDefined))
      .map(l => s"$destDir/${linePath(l)}")
    if (files.isEmpty) readSnapshot(spark, destDir, v).limit(0)
    else readWithSchema(spark, m.schema, files)
      .filter(col(ca) >= aLo && col(ca) <= aHi &&
        col(cb) >= bLo && col(cb) <= bHi)
  }

  /** Incremental consumption between versions: the rows of files
    * PRESENT in `vTo` but not in `vFrom` — for append-only histories
    * this is exactly "what arrived since vFrom", read without diffing
    * any data (manifest set difference, then a scan of only the new
    * files). */
  def changedBetween(spark: org.apache.spark.sql.SparkSession,
                     destDir: String, vFrom: Int, vTo: Int): DataFrame = {
    val before = manifestLines(spark, destDir, vFrom).map(linePath).toSet
    val mTo = readManifest(spark, destDir, vTo)
    requireNoTombstones(mTo, destDir, vTo, "changedBetween")
    val added = mTo.lines.map(linePath).filterNot(before)
    if (added.isEmpty) readSnapshot(spark, destDir, vTo).limit(0)
    else readWithSchema(spark, mTo.schema, added.map(f => s"$destDir/$f"))
  }

  /** CHANGE DATA FEED between two versions — row-level CDC over the
    * merge-on-read log (Delta CDF re-expressed on the manifest layout),
    * the MoR-aware sibling of [[changedBetween]] (which refuses
    * tombstoned tables). One event row per change, attributed to the
    * version that committed it:
    *   - `insert`  — rows of a plain append commit;
    *   - `upsert`  — rows re-stated by a MoR merge/update (whole-row
    *     postimage; appliers overwrite by key);
    *   - `delete`  — keys tombstoned with NO re-statement in the same
    *     commit (non-key columns null).
    * Output schema: the table's columns (vTo's schema — evolved columns
    * null-fill on older events) + `_change_type` + `_commit_version`.
    * Cost: O(changed files) data read + O(range × manifest lines)
    * driver arithmetic — never O(table). Refuses a range crossing a
    * rewrite (compact/reconcile/merge-CoW remove manifest lines, which
    * would mis-attribute re-stated rows as changes): consumers
    * re-bootstrap from a full snapshot there, exactly like
    * [[SnapshotCdc]]. */
  def changeFeed(spark: org.apache.spark.sql.SparkSession,
                 destDir: String, vFrom: Int, vTo: Int): DataFrame = {
    val latest = latestVersion(spark, destDir)
    require(vFrom >= 1 && vFrom <= vTo && vTo <= latest,
      s"changeFeed range [v$vFrom, v$vTo] outside committed 1..$latest " +
        s"of $destDir")
    val manifests: Map[Int, ManifestData] =
      (vFrom to vTo).map(v => v -> readManifest(spark, destDir, v)).toMap
    val mTo = manifests(vTo)
    val outSchema = mTo.schema.getOrElse(throw new IllegalStateException(
      s"v$vTo of $destDir carries no schema header"))
    // driver pass: per-version added files + the append-only wall
    final case class Win(v: Int, data: Seq[String], del: Seq[String],
                         ctype: String, keyCol: Option[String])
    val wins: Seq[Win] = ((vFrom + 1) to vTo).map { v =>
      val prev = manifests(v - 1).lines.map(linePath).toSet
      val cur = manifests(v).lines.map(linePath).toSet
      val removed = prev -- cur
      require(removed.isEmpty,
        s"$destDir is not append-only between v${v - 1} and v$v " +
          s"(${removed.size} file(s) removed — compact/reconcile/merge " +
          "ran); change-feed consumers must re-bootstrap from a full " +
          "snapshot")
      val added = manifests(v).lines.filterNot(l => prev(linePath(l)))
      val addedData = added.filterNot(isDeleteLine).map(linePath)
      val addedDel = added.filter(isDeleteLine).map(linePath)
      // the key comes from the COMMITTING version's header (vTo may be
      // a later reconcile, which drops #morkey)
      val keyCol =
        if (addedDel.isEmpty) None
        else Some(manifests(v).headers.getOrElse("morkey",
          throw new IllegalStateException(
            s"v$v of $destDir carries tombstones but no #morkey header")))
      Win(v, addedData, addedDel,
        if (addedDel.isEmpty) "insert" else "upsert", keyCol)
    }
    // TWO scans total, however long the range: every added data file in
    // one read, every delete-set file in one read — version attribution
    // rides input_file_name() joined to a broadcast (file → version)
    // map (the planning cost is O(1) relations, not O(versions); the
    // data cost was always O(changed files))
    def lastTwo(rel: String): String =
      rel.split("/").takeRight(2).mkString("/")
    val fileExpr = substring_index(input_file_name(), "/", -2)
    import spark.implicits._
    val dataFiles = wins.flatMap(w => w.data.map(f =>
      (lastTwo(f), w.v, w.ctype)))
    val dataEv: Option[DataFrame] =
      if (dataFiles.isEmpty) None
      else {
        val lookup = dataFiles.toDF("__f", "_commit_version", "_change_type")
        Some(readWithSchema(spark, Some(outSchema),
            wins.flatMap(_.data).map(f => s"$destDir/$f"))
          .withColumn("__f", fileExpr)
          .join(broadcast(lookup), Seq("__f"))
          .drop("__f"))
      }
    val delWins = wins.filter(_.del.nonEmpty)
    val delEv: Option[DataFrame] =
      if (delWins.isEmpty) None
      else {
        val keys = delWins.flatMap(_.keyCol).distinct
        require(keys.size == 1,
          s"changeFeed range [v$vFrom, v$vTo] of $destDir mixes merge " +
            s"keys ${keys.mkString(", ")} — split the range at the " +
            "re-key boundary")
        val keyCol = keys.head
        val delLookup = delWins.flatMap(w => w.del.map(f =>
          (lastTwo(f), w.v))).toDF("__f", "_commit_version")
        val delKeys = spark.read
          .parquet(delWins.flatMap(_.del).map(f => s"$destDir/$f"): _*)
          .select(col(keyCol), fileExpr.as("__f"))
          .join(broadcast(delLookup), Seq("__f")).drop("__f")
        // pure deletes = tombstoned keys NOT re-stated in the SAME
        // commit; the anti-join runs per (key, version) pair
        val restated = dataEv match {
          case None => None
          case Some(d) =>
            val winsWithBoth = wins.filter(w =>
              w.del.nonEmpty && w.data.nonEmpty).map(_.v).toSet
            if (winsWithBoth.isEmpty) None
            else Some(d.filter(col("_commit_version")
                .isInCollection(winsWithBoth))
              .select(col(keyCol), col("_commit_version")))
        }
        val pure = restated match {
          case None => delKeys
          case Some(r) =>
            delKeys.join(r, Seq(keyCol, "_commit_version"), "left_anti")
        }
        Some(pure.select(outSchema.fields.map { f =>
          if (f.name == keyCol) col(keyCol)
          else lit(null).cast(f.dataType).as(f.name)
        }.toSeq :+ col("_commit_version"): _*)
          .withColumn("_change_type", lit("delete"))
          .select((outSchema.fieldNames.map(col).toSeq :+
            col("_change_type")) :+ col("_commit_version"): _*))
      }
    val ordered = dataEv.map(_.select(
      (outSchema.fieldNames.map(col).toSeq :+ col("_change_type")) :+
        col("_commit_version"): _*))
    (ordered.toSeq ++ delEv.toSeq).reduceOption(_.unionByName(_))
      .getOrElse {
        readSnapshot(spark, destDir, vTo).limit(0)
          .withColumn("_change_type", lit(""))
          .withColumn("_commit_version", lit(0))
      }
  }

  /** Point-lookup file skipping for a NON-clustered key: publish with
    * a per-file BLOOM over `keyCol` in the manifest. Min/max stats
    * ([[readSnapshotRange]]) only skip when the key correlates with
    * file layout; a bloom skips for ANY key distribution — the
    * Iceberg/Delta bloom-skipping story on this layout. Building the
    * per-file blooms is one extra scan of the key column at publish
    * time (each file's bloom is [[graft.operators.Sketches.bloomBuild]]
    * collapsed to ⌈mBits/63⌉ words — bounded by the bitmap, not the
    * file); lookups then open only files whose bloom admits the key
    * (no false negatives, ~fp-rate extra opens). Manifest lines:
    * `path\t<word,word,…>` under a `#bloom=col,mBits,k` header.
    *
    * All per-file blooms come out of ONE distributed pass — the scan
    * carries `input_file_name()` and folds masks per (file, word), so
    * publish cost is a single job whatever the file count. (The naive
    * per-file `bloomBuild` loop is a serial driver job PER FILE —
    * measured 105 s at 800 files in the r10 StateRehearsal, i.e. hours
    * at real manifest sizes.) */
  def publishSnapshotBloom(df: DataFrame, destDir: String, keyCol: String,
                           mBits: Int = 0, k: Int = 4): Int =
    publishSnapshotIndexed(df, destDir, Nil, keyCol, mBits, k)

  /** Per-file bloom words over `keyCol` for every part file under
    * `dataDir` — ONE distributed pass whatever the file count (the scan
    * carries input_file_name() and folds masks per (file, word)).
    * Bounded collect: one row per FILE, ≤⌈mBits/63⌉ words each. A file
    * with no non-null keys gets the all-zero bitmap: its bloom admits
    * nothing, and it holds nothing a point lookup could want. */
  private[operators] def perFileBloomWords(spark: org.apache.spark.sql.SparkSession,
                                dataDir: String, keyCol: String,
                                mBits: Int, k: Int): Map[String, String] = {
    import org.apache.hadoop.fs.Path
    val nWords = (mBits + Sketches.BloomWordBits - 1) / Sketches.BloomWordBits
    val pos = array((0 until k).map(j =>
      Sketches.bloomBit(col(keyCol), j, mBits)): _*)
    val perFileRows = spark.read.parquet(dataDir)
      .select(input_file_name().as("__file"), col(keyCol))
      .filter(col(keyCol).isNotNull)
      .select(col("__file"), explode(pos).as("p"))
      .select(col("__file"),
        (col("p") / Sketches.BloomWordBits).cast("long").as("word"),
        expr(s"shiftleft(CAST(1 AS BIGINT), " +
          s"CAST(p % ${Sketches.BloomWordBits} AS INT))").as("mask"))
      .groupBy("__file", "word").agg(bit_or(col("mask")).as("bits"))
      .groupBy("__file")
      .agg(collect_list(struct(col("word"), col("bits"))).as("ws"))
      .collect()
    perFileRows.map { r =>
      val arr = new Array[Long](nWords)
      r.getSeq[org.apache.spark.sql.Row](1)
        .foreach(w => arr(w.getLong(0).toInt) = w.getLong(1))
      new Path(r.getString(0)).getName -> arr.mkString(",")
    }.toMap
  }

  /** Publish with EVERY skip index at once: range stats over
    * `statsCols` (possibly empty, possibly the Z-order pair) AND a
    * per-file bloom over `bloomCol` — lines are
    * `path\trows\tmn\tmx[…]\t<words>` under both headers, so one table
    * serves range reads, 2-D box reads, and point lookups. (With
    * `statsCols` empty this IS [[publishSnapshotBloom]].) Cost on top
    * of the data write: one distributed bloom pass + parallel footer
    * reads — both metadata-sized. Appends/merges over an indexed base
    * strip carried index text (the bloom header doesn't survive
    * [[commitVersion]]); re-publish through this entry to restore. */
  def publishSnapshotIndexed(df: DataFrame, destDir: String,
                             statsCols: Seq[String], bloomCol: String,
                             mBits: Int = 0, k: Int = 4,
                             tag: Option[String] = None): Int = {
    import org.apache.hadoop.fs.Path
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(destDir).getFileSystem(conf)
    // same claim-first discipline as commitVersion: data is written only
    // into a directory this publisher exclusively owns
    val uid = claimStagingId(fs, destDir, latestVersion(spark, destDir) + 1)
    val dataDir = new Path(s"$destDir/data/v$uid")
    df.write.mode("overwrite").parquet(dataDir.toString)
    import scala.collection.parallel.CollectionConverters._
    val parts = fs.listStatus(dataDir)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(_.getPath).sortBy(_.getName)
    val fileStats: Map[String, (Long, Array[(Long, Long)])] =
      parts.par.map(p => p.getName -> footerStats(conf, p, statsCols))
        .seq.toMap
    // mBits = 0 (the default) AUTO-SIZES the bitmap to the LARGEST
    // file: ~13 bits per row gives ~1% false positives at k=4, so the
    // skip quality is a property of the keys-per-file design choice,
    // not of a fixed constant that silently saturates on realistically
    // sized files (a saturated bloom admits everything — pointscale's
    // anti-pattern cell measures the degradation). Capped so a single
    // manifest line stays tens of KB: files beyond ~20k rows keep a
    // weaker bloom — size files down or pass mBits explicitly. The
    // resolved value rides the #bloom header; probes always read it
    // from there, so auto and explicit tables interoperate.
    val mBitsResolved: Int =
      if (mBits > 0) mBits
      else {
        val maxRows = fileStats.values.map(_._1).foldLeft(0L)(math.max)
        math.min(math.max(4032L, maxRows * 13L), 262144L).toInt
      }
    val words = perFileBloomWords(spark, dataDir.toString, bloomCol,
      mBitsResolved, k)
    val nWords =
      (mBitsResolved + Sketches.BloomWordBits - 1) / Sketches.BloomWordBits
    val empty = Array.fill(nWords)(0L).mkString(",")
    val linesAndRows = parts.par
      .map { p =>
        val rel = s"data/v$uid/${p.getName}"
        val w = words.getOrElse(p.getName, empty)
        val (rows, mm) = fileStats(p.getName)
        val statsTxt =
          if (statsCols.isEmpty) None
          else {
            // any column without usable stats ⇒ no stats text at all:
            // the line grammar is positional, and lineOverlaps's length
            // arithmetic keeps a (path, words)-only line conservative
            if (mm.exists { case (mn, mx) => mn > mx }) None
            else Some(s"$rows\t" +
              mm.map { case (mn, mx) => s"$mn\t$mx" }.mkString("\t"))
          }
        // the no-stats shape still carries the ROW COUNT
        // (`path\trows\twords`): without it, every carried line loses
        // its count through the MoR lifecycle — the #rows header dies
        // at the first reconcile and compaction misreads every carried
        // file as small (full rewrites each compact)
        val line = statsTxt match {
          case Some(st) => s"$rel\t$st\t$w"
          case None => s"$rel\t$rows\t$w"
        }
        (line, rows)
      }.seq.toSeq
    val lines = linesAndRows.map(_._1)
    val schemaHeader =
      s"#schema=${org.apache.spark.sql.types.StructType(
        df.schema.fields.map(_.copy(nullable = true))).json}"
    val header = schemaHeader +:
      ((if (statsCols.isEmpty) Seq.empty
        else Seq(s"#stats=${statsCols.mkString(",")}")) ++
        Seq(s"#bloom=$bloomCol,$mBitsResolved,$k") ++
        tag.map(t => s"#tag=$t").toSeq ++
        Seq(s"#rows=${linesAndRows.map(_._2).sum}"))
    writeFileAtomic(fs, s"$destDir/manifest/d$uid.txt",
      s"$destDir/manifest/.dtmp_v$uid", lines)
    // full publish: content is base-independent, so the commit loop just
    // takes the next free slot under the CAS protocol
    var committed = -1
    var attempt = 0
    while (committed < 0) {
      attempt += 1
      if (attempt > 50)
        throw new ConcurrentSnapshotUpdate(
          s"indexed publish to $destDir lost $attempt commit races")
      val slot = latestVersion(spark, destDir) + 1
      if (tryCommitManifest(fs, destDir, slot, uid,
          header ++ Seq(s"@manifest/d$uid.txt")))
        committed = slot
    }
    committed
  }

  /** APPEND over a bloom-indexed base WITHOUT losing the index — the
    * gap [[commitVersion]] documents (a plain append strips carried
    * bloom words because it can't build words for its own files; the
    * caller had to re-publish the whole table to restore point-lookup
    * skipping). Here the delta's per-file words come out of the same
    * single distributed pass the indexed publish uses, carried entries
    * keep their words VERBATIM (they are per-file and files are
    * immutable — an append invalidates nothing), and the version keeps
    * the `#bloom` header — so a streaming-fed indexed table keeps its
    * point skips at O(delta) append cost. Bloom parameters are the
    * base's (a parameter change would desynchronize probe and build;
    * re-publish to change them); stats columns inherit. */
  def appendSnapshotIndexed(df: DataFrame, destDir: String,
                            tag: Option[String] = None): Int = {
    import org.apache.hadoop.fs.Path
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(destDir).getFileSystem(conf)
    val prev = latestVersion(spark, destDir)
    require(prev >= 1,
      s"appendSnapshotIndexed needs an existing version under $destDir")
    val m = readManifest(spark, destDir, prev)
    requireNoTombstones(m, destDir, prev, "appendSnapshotIndexed")
    val (bloomCol, mBits, k) = m.bloom.getOrElse(
      throw new IllegalArgumentException(
        s"v$prev of $destDir carries no bloom header — use " +
          "appendSnapshot, or publishSnapshotIndexed to index the table"))
    val statsCols = m.statsCols
    m.schema.foreach { ps =>
      ps.fields.foreach { f =>
        val cur = df.schema.fields.find(_.name == f.name)
        require(cur.exists(_.dataType == f.dataType),
          s"appendSnapshotIndexed schema evolution is add-column only: " +
            s"'${f.name}: ${f.dataType.simpleString}' of v$prev is " +
            cur.fold("missing")(c =>
              s"retyped to ${c.dataType.simpleString}") +
            " in the appended batch")
      }
    }
    val resurrected = df.columns.filter(m.droppedCols)
    require(resurrected.isEmpty,
      s"column(s) ${resurrected.mkString(", ")} were DROPPED from " +
        s"$destDir and cannot be re-added by an indexed append")
    commitIndexedDelta(df, destDir, m, prev, m.entries, m.rowsHeader,
      tag, "an indexed append")
  }

  /** Commit a delta ONTO an indexed base, index intact: write `df`
    * under a claimed id, build per-file bloom words + stats lines from
    * the same one-pass builders the indexed publish uses, keep the
    * `#bloom`/`#stats` headers, and carry `carriedEntries` VERBATIM
    * (per-file words over immutable files stay valid under any carry).
    * The shared engine behind [[appendSnapshotIndexed]], the indexed
    * [[compactSnapshot]] lane, and the index-preserving
    * [[reconcileSnapshotMoR]]. Base-pinned single-attempt CAS. */
  private def commitIndexedDelta(df: DataFrame, destDir: String,
                                 m: ManifestData, base: Int,
                                 carriedEntries: Seq[String],
                                 carriedRows: Option[Long],
                                 tag: Option[String], op: String): Int = {
    import org.apache.hadoop.fs.Path
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(destDir).getFileSystem(conf)
    val (bloomCol, mBits, k) = bloomParams(m, destDir, base)
    val statsCols = m.statsCols
    // the dropped-name fence rides EVERY carry-forward commit (same
    // resurrection hazard as commitVersion: a delta re-stating a
    // dropped name would surface old files' bytes on carried rows)
    val resurrected = df.columns.filter(m.droppedCols)
    require(resurrected.isEmpty,
      s"column(s) ${resurrected.mkString(", ")} were DROPPED from " +
        s"$destDir and cannot be re-added by $op")
    val uid = claimStagingId(fs, destDir, base + 1)
    val dataDir = new Path(s"$destDir/data/v$uid")
    df.write.mode("overwrite").parquet(dataDir.toString)
    val words = perFileBloomWords(spark, dataDir.toString, bloomCol,
      mBits, k)
    val nWords = (mBits + Sketches.BloomWordBits - 1) / Sketches.BloomWordBits
    val empty = Array.fill(nWords)(0L).mkString(",")
    import scala.collection.parallel.CollectionConverters._
    val linesAndRows = fs.listStatus(dataDir)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(_.getPath).sortBy(_.getName).par
      .map { p =>
        val rel = s"data/v$uid/${p.getName}"
        val w = words.getOrElse(p.getName, empty)
        val (rows, mm) = footerStats(conf, p, statsCols)
        val statsTxt =
          if (statsCols.isEmpty ||
              mm.exists { case (mn, mx) => mn > mx }) None
          else Some(s"$rows\t" +
            mm.map { case (mn, mx) => s"$mn\t$mx" }.mkString("\t"))
        // no-stats lines keep the row count (`path\trows\twords`) so
        // #rows and compaction sizing survive the indexed lifecycle
        (statsTxt match {
          case Some(st) => s"$rel\t$st\t$w"
          case None => s"$rel\t$rows\t$w"
        }, rows)
      }.seq.toSeq
    val deltaRows = linesAndRows.map(_._2).sum
    val deltaEntry =
      if (linesAndRows.isEmpty) Seq.empty
      else {
        writeFileAtomic(fs, s"$destDir/manifest/d$uid.txt",
          s"$destDir/manifest/.dtmp_v$uid", linesAndRows.map(_._1))
        Seq(s"@manifest/d$uid.txt")
      }
    val schemaHeader =
      s"#schema=${org.apache.spark.sql.types.StructType(
        df.schema.fields.map(_.copy(nullable = true))).json}"
    val header = schemaHeader +:
      ((if (statsCols.isEmpty) Seq.empty
        else Seq(s"#stats=${statsCols.mkString(",")}")) ++
        Seq(s"#bloom=$bloomCol,$mBits,$k") ++
        tag.map(t => s"#tag=$t").toSeq ++
        (if (m.droppedCols.isEmpty) Seq.empty
         else Seq(s"#dropped=${m.droppedCols.toSeq.sorted.mkString(",")}")) ++
        carriedRows.map(r => s"#rows=${r + deltaRows}").toSeq)
    // base-dependent single-attempt CAS: carried entries (with their
    // words) came from v`base`; a racing commit means they're stale
    if (latestVersion(spark, destDir) != base ||
        !tryCommitManifest(fs, destDir, base + 1, uid,
          header ++ carriedEntries ++ deltaEntry)) {
      fs.delete(dataDir, true)
      fs.delete(new Path(s"$destDir/manifest/d$uid.txt"), false)
      throw new ConcurrentSnapshotUpdate(
        s"base of $destDir advanced past v$base during $op; retry " +
          "against the new latest version")
    }
    base + 1
  }

  /** Driver-side replica of Sketches.bloomBit: shaHash32("bloom:j:v")
    * mod mBits — first 4 sha256 bytes as an unsigned 32-bit value,
    * identical to the engine/oracle expression. */
  private def bloomBitScala(v: String, j: Int, mBits: Int): Int = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"bloom:$j:$v".getBytes("UTF-8"))
    ((d.take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))) % mBits).toInt
  }

  /** The files of bloom-published version `v` whose bloom admits
    * `key` — driver-side manifest arithmetic, no data touched. */
  def filesForKey(spark: org.apache.spark.sql.SparkSession,
                  destDir: String, v: Int, key: String): Seq[String] = {
    val m = readManifest(spark, destDir, v)
    requireNoTombstones(m, destDir, v, "filesForKey")
    val (_, mBits, k) = bloomParams(m, destDir, v)
    admittingLines(m, key, mBits, k).map(linePath)
  }

  /** The manifest lines whose bloom words ADMIT `key` — lines without
    * parseable words are kept (skipping must never lose rows). Shared
    * by [[filesForKey]] and the tombstone-aware [[readSnapshotPoint]]
    * (where delete-set lines carry words too and prune the same way:
    * a delete file that can't hold the key can't tombstone it). */
  private def admittingLines(m: ManifestData, key: String,
                             mBits: Int, k: Int): Seq[String] = {
    val nStats = m.statsCols.length
    m.lines.filter { l =>
      val f = l.split("\t")
      // words ride the LAST field: `path\twords` (legacy no-stats
      // shape), `path\trows\twords` (no-stats shape with the row
      // count), or `path\trows\tmn\tmx[…]\twords` (combined index);
      // any other shape is kept — skipping must never lose rows
      val hasWords = f.length == 2 ||
        (f.length == 3 && f(1).nonEmpty && f(1).forall(_.isDigit)) ||
        (nStats > 0 && f.length == 3 + 2 * nStats)
      if (!hasWords) true
      else {
        val words = f.last.split(",").map(_.toLong)
        // word width MUST mirror the publish side's constant — a
        // hard-coded 63 here would silently desynchronize probe and
        // build if Sketches.BloomWordBits ever changed (false
        // negatives = lost rows on point lookups)
        val wb = Sketches.BloomWordBits
        (0 until k).forall { j =>
          val p = bloomBitScala(key, j, mBits)
          (words(p / wb) & (1L << (p % wb))) != 0
        }
      }
    }
  }

  private[operators] def bloomParams(m: ManifestData, destDir: String,
                          v: Int): (String, Int, Int) =
    m.bloom.getOrElse(throw new IllegalArgumentException(
      s"version $v of $destDir was not published with a bloom column"))

  /** Point lookup over a bloom-published version: open only admitting
    * files, then the exact equality filter (false positives die there;
    * false negatives cannot exist).
    *
    * MERGE-ON-READ aware: on a tombstoned version (bloom is preserved
    * across MoR commits when the bloom column IS the merge key —
    * [[morStage]] builds per-file words for each batch and delete-set
    * file), the admitting subset is resolved through the upsert log:
    * the key's tombstone state comes only from admitting DELETE files
    * (sound — bloom has no false negatives, so every delete file that
    * could hold the key is probed), and the winner row from admitting
    * data files. A continuously-upserted indexed table keeps O(admitting
    * files) point reads with no reconcile required. */
  def readSnapshotPoint(spark: org.apache.spark.sql.SparkSession,
                        destDir: String, v: Int, key: String): DataFrame = {
    val m = readManifest(spark, destDir, v)
    val (c, mBits, k) = bloomParams(m, destDir, v)
    val admitting = admittingLines(m, key, mBits, k)
    val dataFiles = admitting.filterNot(isDeleteLine)
      .map(l => s"$destDir/${linePath(l)}")
    if (dataFiles.isEmpty)
      return readSnapshot(spark, destDir, v).limit(0).filter(lit(false))
    if (!m.lines.exists(isDeleteLine))
      // through the VERSION SCHEMA, not the raw footers: a point read
      // must not resurrect a dropped column's bytes or miss an evolved
      // column's null-fill
      readWithSchema(spark, m.schema, dataFiles).filter(col(c) === key)
    else
      // resolve over the admitting subset only: morResolve is sound on
      // any data subset, and restricting its delete-set read to
      // admitting files keeps the whole lookup O(admitting files)
      morResolveWith(spark, destDir, m, v, dataFiles,
        admitting.filter(isDeleteLine))
        .filter(col(c) === key)
  }

  /** Small-file maintenance on the snapshot layout (the Iceberg
    * `rewrite_data_files` story): rewrite the latest version's files
    * holding fewer than `minRows` rows into ~`targetRows`-row files,
    * carrying every already-big file forward BY REFERENCE. This is what
    * keeps [[graft.streaming.Ingest.snapshotStream]] healthy — a
    * producer that publishes one version per micro-batch accretes one
    * small file set per batch, and scan cost decays until someone bin-
    * packs them. Cost is O(small bytes), never O(table); the previous
    * version still time-travels to the original small files, and
    * [[vacuum]] reclaims them once no kept version references them.
    *
    * Row counts come from the manifest's stats lines; a line WITHOUT a
    * usable row count (no stats published, or stats-less fallback) is
    * conservatively treated as small — rewriting a big file is wasted
    * work but never wrong, the direction the estimate must err.
    * Returns the new version, or the current one when nothing needs
    * compacting. */
  def compactSnapshot(spark: org.apache.spark.sql.SparkSession,
                      destDir: String, minRows: Long,
                      targetRows: Long, tag: Option[String] = None): Int = {
    require(minRows >= 1 && targetRows >= minRows,
      s"need 1 <= minRows ($minRows) <= targetRows ($targetRows)")
    val v = latestVersion(spark, destDir)
    require(v >= 1, s"compactSnapshot needs an existing version under $destDir")
    val m = readManifest(spark, destDir, v)
    compactPlan(spark, destDir, v, minRows, targetRows) match {
      case None => v // nothing to pack (or a single straggler)
      case Some(p) =>
        if (m.bloom.isDefined)
          // indexed lane: packed files get fresh per-file words, carried
          // big files keep theirs verbatim, the #bloom header survives —
          // a streaming-fed indexed table stays point-skippable through
          // its small-file maintenance (it used to refuse here)
          commitIndexedDelta(p.packed, destDir, m, v,
            p.carried, p.carriedRows, tag, "compactSnapshot")
        else commitVersion(p.packed, destDir, carryForward = true,
          statsCol = None, carriedOverride = Some(p.carried),
          tag = tag, prevManifestOpt = Some(m),
          baseVersion = Some(v),
          statsColsMulti = m.statsCols,
          carriedRowsOverride = p.carriedRows)
    }
  }

  /** A computed-but-uncommitted small-file compaction: the packed
    * (coalesced) small rows, the carried big entries and their row
    * total. */
  private[operators] final case class CompactPlan(
      packed: DataFrame, carried: Seq[String], carriedRows: Option[Long])

  /** Compute the small-file compaction of version `v` WITHOUT
    * committing — shared by [[compactSnapshot]] (which follows with
    * the CAS) and [[SnapshotTxn.stageCompact]] (which parks the packed
    * delta in a pending manifest so the maintenance commits atomically
    * with a transaction). None when ≤ 1 small file exists. */
  private[operators] def compactPlan(spark: org.apache.spark.sql.SparkSession,
                                     destDir: String, v: Int,
                                     minRows: Long,
                                     targetRows: Long): Option[CompactPlan] = {
    require(minRows >= 1 && targetRows >= minRows,
      s"need 1 <= minRows ($minRows) <= targetRows ($targetRows)")
    val m = readManifest(spark, destDir, v)
    requireNoTombstones(m, destDir, v, "compactSnapshot")
    def isBig(l: String) = lineRowCount(l).exists(_ >= minRows)
    // group-granular carry (same rule as mergeSnapshot): an all-big
    // delta manifest carries as its one-line reference; a mixed group
    // inlines only its big lines
    val carriedEntries = m.groups.flatMap { g =>
      if (g.lines.forall(isBig)) Seq(g.entry)
      else g.lines.filter(isBig)
    }
    val smallLines = m.lines.filterNot(isBig)
    if (smallLines.length <= 1) None
    else {
      val small = readWithSchema(spark, m.schema,
        smallLines.map(l => s"$destDir/${linePath(l)}"))
      // known counts come free off the manifest; only stats-less lines
      // (rare) cost a count() over their own small bytes
      val known = smallLines.flatMap(lineRowCount)
      val rows =
        if (known.length == smallLines.length) known.sum
        else small.count()
      val nOut = math.max(1L, (rows + targetRows - 1) / targetRows).toInt
      // coalesce, not repartition: bin-packing needs no shuffle; the
      // FULL stats list carries (a Z-ordered table keeps both columns)
      Some(CompactPlan(small.coalesce(nOut), carriedEntries,
        sumLineRows(m.lines.filter(isBig))))
    }
  }

  /** Resolve the newest version committed with `tag` — time travel by
    * the producer's own name for a state (e.g. snapshotStream's
    * batchId). Walks manifests newest-first (vacuumed gaps skipped);
    * driver metadata reads only. */
  def versionForTag(spark: org.apache.spark.sql.SparkSession,
                    destDir: String, tag: String): Option[Int] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(destDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    (latestVersion(spark, destDir) to 1 by -1).find { v =>
      fs.exists(new Path(s"$destDir/manifest/v$v.txt")) &&
        readManifest(spark, destDir, v).tag.contains(tag)
    }
  }

  /** Time travel BY TIMESTAMP (Iceberg's as-of-timestamp): the newest
    * version v such that EVERY retained version up to v was committed
    * at or before `tsMillis` — the commit point is the version file's
    * publish, so its modification time is the commit time. Resolved by
    * an upward scan carrying the RUNNING MAX of the commit times, not
    * a newest-first "first mtime ≤ ts" probe: commit TIMES need not be
    * monotone in version order (CAS-retried renames, multi-writer
    * clock skew), and under a non-monotone stamp the newest-first
    * probe can pin a version that was actually committed AFTER later
    * versions' stamps — a historical read that is not "as of" ts. The
    * running max is conservative and sound whatever produced the
    * inversion: a version is admitted only when nothing at or below it
    * is stamped after `tsMillis`; for monotone stamps (the single-
    * writer common case) the two resolutions agree exactly. None when
    * the table didn't exist yet. Driver metadata only; vacuumed
    * versions are skipped (asking for a time inside the vacuumed range
    * resolves to nothing, never to a wrong later state). */
  def versionAsOf(spark: org.apache.spark.sql.SparkSession,
                  destDir: String, tsMillis: Long): Option[Int] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(destDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    var runMax = Long.MinValue
    var best: Option[Int] = None
    val latest = latestVersion(spark, destDir)
    var v = 1
    // once runMax exceeds tsMillis no later version can be admitted
    // (runMax is non-decreasing), so the scan stops — the warm path
    // pays O(versions up to ts), not O(history) getFileStatus calls
    while (v <= latest && runMax <= tsMillis) {
      val p = new Path(s"$destDir/manifest/v$v.txt")
      if (fs.exists(p)) {
        runMax = math.max(runMax, fs.getFileStatus(p).getModificationTime)
        if (runMax <= tsMillis) best = Some(v)
      }
      v += 1
    }
    best
  }

  /** The FILES of a version as a DataFrame (Iceberg's `table$files`):
    * one row per referenced file with its role (data / delete-set),
    * per-file row count and first-stats-column bounds where the
    * manifest carries them — pure manifest text, zero data opened.
    * The introspection face for "why is this table slow / what would
    * this range prune". */
  def snapshotFiles(spark: org.apache.spark.sql.SparkSession,
                    destDir: String, v: Int): DataFrame = {
    val m = readManifest(spark, destDir, v)
    val rows = m.lines.map { l =>
      val f = l.split("\t")
      val bounds: (Option[Long], Option[Long]) =
        if (f.length >= 4 && f(1).nonEmpty && f(1).forall(_.isDigit))
          (scala.util.Try(f(2).toLong).toOption,
            scala.util.Try(f(3).toLong).toOption)
        else (None, None)
      (linePath(l),
        if (isDeleteLine(l)) "delete" else "data",
        lineRowCount(l).map(java.lang.Long.valueOf).orNull,
        bounds._1.map(java.lang.Long.valueOf).orNull,
        bounds._2.map(java.lang.Long.valueOf).orNull)
    }
    import spark.implicits._
    rows.toDF("path", "kind", "n_rows", "stat_min", "stat_max")
  }

  /** Table HISTORY as a DataFrame (Iceberg's `table$history` /
    * `table$snapshots` story): one row per retained version with its
    * tag, column count, tombstone state, dropped-name fence, and the
    * version's exact row count. Every commit records its total in a
    * `#rows` header (carried + delta, both known at commit time), so
    * history reads exactly V version files — no delta manifest is ever
    * expanded, which is what makes "how did this table get here"
    * answerable on a million-file table in milliseconds. Pre-header
    * versions fall back to summing per-line counts from the expanded
    * manifest text (a stats-less line nulls the count rather than
    * guessing). Vacuumed versions are simply absent. */
  def snapshotHistory(spark: org.apache.spark.sql.SparkSession,
                      destDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(destDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val rows = (1 to latestVersion(spark, destDir)).flatMap { v =>
      if (!fs.exists(new Path(s"$destDir/manifest/v$v.txt"))) None
      else {
        val m = readManifest(spark, destDir, v)
        // O(versions): the committed #rows header answers the count
        // without resolving any delta-manifest reference (tombstone
        // lines are always INLINE in the version file — morCommit
        // appends them and every carry keeps entries verbatim — so the
        // tombstone flag needs no expansion either). Only pre-header
        // manifests fall back to expanding and summing line counts
        // (bloom-arity-tolerant: lineRowCount, the round-11 fix).
        val nRows: Option[Long] = m.rowsHeader.orElse {
          val dataLines = m.lines.filterNot(isDeleteLine)
          val counts = dataLines.map(lineRowCount)
          if (counts.nonEmpty && counts.forall(_.isDefined))
            Some(counts.flatten.sum)
          else None
        }
        Some((v, m.tag.orNull,
          m.schema.map(_.fields.length).getOrElse(-1),
          nRows.map(java.lang.Long.valueOf).orNull,
          m.entries.exists(isDeleteLine),
          m.droppedCols.toSeq.sorted.mkString(",")))
      }
    }
    import spark.implicits._
    rows.toDF("version", "tag", "n_cols", "n_rows", "tombstoned",
      "dropped")
  }

  // --------------------------------------------- branches (write-audit-publish)
  /** Create branch `name` pinned at version `v` — a named ref over the
    * linear version history (Iceberg's branch story). Branch READERS
    * ([[readSnapshotBranch]]) see only the pinned version, however far
    * the table advances underneath — which is what makes the
    * WRITE-AUDIT-PUBLISH pattern one file flip: producers commit new
    * versions normally (invisible to branch readers), an audit reads
    * the candidate version directly, and [[advanceBranch]] publishes it
    * to the branch atomically; a crash anywhere leaves readers on the
    * old pin, never on an unaudited state. Refuses an existing name
    * (create-no-overwrite, atomic). [[vacuum]] keeps pinned versions
    * readable whatever `keepFrom` says. */
  def createBranch(spark: org.apache.spark.sql.SparkSession,
                   destDir: String, name: String, v: Int): Unit = {
    import org.apache.hadoop.fs.Path
    requireBranchName(name)
    val fs = new Path(destDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val latest = latestVersion(spark, destDir)
    require(v >= 1 && v <= latest,
      s"cannot branch at v$v of $destDir (committed versions: 1..$latest)")
    // vacuum only protects versions pinned AT THE TIME IT RUNS — a pin
    // to an already-vacuumed manifest would succeed here and then fail
    // on every read; refuse at pin time instead
    require(fs.exists(new Path(s"$destDir/manifest/v$v.txt")),
      s"cannot branch at v$v of $destDir: its manifest was removed by " +
        "vacuum (pin a retained version)")
    fs.mkdirs(new Path(s"$destDir/manifest"))
    val p = new Path(s"$destDir/manifest/ref_$name.txt")
    val out =
      try fs.create(p, false)
      catch { case _: java.io.IOException => throw new IllegalStateException(
        s"branch '$name' already exists on $destDir") }
    out.write(v.toString.getBytes("UTF-8")); out.close()
  }

  /** The version branch `name` pins, None if the branch doesn't exist. */
  def branchVersion(spark: org.apache.spark.sql.SparkSession,
                    destDir: String, name: String): Option[Int] = {
    import org.apache.hadoop.fs.Path
    requireBranchName(name)
    val fs = new Path(destDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val p = new Path(s"$destDir/manifest/ref_$name.txt")
    if (!fs.exists(p)) None
    else Some(readTextLines(fs, p.toString).head.trim.toInt)
  }

  /** Read the branch's pinned version — the branch-reader face of the
    * write-audit-publish flow. */
  def readSnapshotBranch(spark: org.apache.spark.sql.SparkSession,
                         destDir: String, name: String): DataFrame =
    readSnapshot(spark, destDir,
      branchVersion(spark, destDir, name).getOrElse(
        throw new IllegalArgumentException(
          s"no branch '$name' on $destDir")))

  /** Publish version `to` to branch `name` — the PUBLISH step of
    * write-audit-publish, a single atomic ref flip under the table's
    * commit lock. `expectedFrom` is the optimistic guard: when given,
    * the advance refuses if another publisher moved the branch first
    * (re-audit against the fresh pin and retry). Rollback is the same
    * primitive with a lower `to` — pins may move backward on purpose
    * (an audit that passed and was later retracted), never silently. */
  def advanceBranch(spark: org.apache.spark.sql.SparkSession,
                    destDir: String, name: String, to: Int,
                    expectedFrom: Option[Int] = None): Unit = {
    import org.apache.hadoop.fs.Path
    requireBranchName(name)
    val fs = new Path(destDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val latest = latestVersion(spark, destDir)
    require(to >= 1 && to <= latest,
      s"cannot advance branch '$name' to v$to of $destDir " +
        s"(committed versions: 1..$latest)")
    require(fs.exists(new Path(s"$destDir/manifest/v$to.txt")),
      s"cannot advance branch '$name' to v$to of $destDir: its manifest " +
        "was removed by vacuum (pin a retained version)")
    withCommitLocks(Seq(
        fs.makeQualified(new Path(destDir)).toString)) {
      val cur = branchVersion(spark, destDir, name).getOrElse(
        throw new IllegalArgumentException(
          s"no branch '$name' on $destDir"))
      expectedFrom.foreach(e =>
        if (cur != e) throw new ConcurrentSnapshotUpdate(
          s"branch '$name' of $destDir moved v$e -> v$cur under this " +
            "advance; re-audit against the fresh pin"))
      writeFileAtomic(fs, s"$destDir/manifest/ref_$name.txt",
        s"$destDir/manifest/.ref_$name.tmp", Seq(to.toString))
    }
  }

  /** Delete branch `name` (its pinned version becomes vacuumable like
    * any other). Missing branch is a no-op. */
  def dropBranch(spark: org.apache.spark.sql.SparkSession,
                 destDir: String, name: String): Unit = {
    import org.apache.hadoop.fs.Path
    requireBranchName(name)
    val fs = new Path(destDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    fs.delete(new Path(s"$destDir/manifest/ref_$name.txt"), false)
    ()
  }

  private def requireBranchName(name: String): Unit =
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '-'),
      s"branch names are [A-Za-z0-9_-]+; got '$name'")

  /** Every branch pin of the table (name → version). */
  private def branchPins(fs: org.apache.hadoop.fs.FileSystem,
                         destDir: String): Map[String, Int] = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(s"$destDir/manifest")
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("ref_") && n.endsWith(".txt") =>
        n.stripPrefix("ref_").stripSuffix(".txt") ->
          readTextLines(fs, s"$destDir/manifest/$n").head.trim.toInt }
      .toMap
  }

  /** Retention: delete data files referenced by NO manifest ≥
    * `keepFrom` and drop the older manifests — the vacuum that keeps
    * time travel bounded. Live files (referenced by any kept version)
    * survive even if an old version also referenced them; the same
    * rule governs DELTA manifests (a `d<id>.txt` still referenced by
    * any kept version must survive its dropped originator). Claim
    * files are never deleted — a staging id must never be re-issued,
    * else a zombie publisher holding it could clobber a new owner's
    * directory.
    *
    * RETENTION CONTRACT (reader pinning): a reader pins a version by
    * resolving its manifest and holds that pin for the whole scan.
    * Vacuum deletes the files of versions below `keepFrom`, so choose
    * `keepFrom` such that no in-flight reader still pins an older
    * version — operationally, the retention window must exceed the
    * longest-running query/job against the table. A reader vacuumed
    * underneath fails LOUDLY (missing file or missing manifest): data
    * files are immutable and paths are never reused (claims are
    * permanent), so a stale pin can error but can never silently
    * return wrong rows. Returns the deleted data-file count.
    *
    * CROSS-PROCESS OWNERSHIP (advice r16 #1): the batch-watermark
    * read-modify-write below is serialized per table ONLY within this
    * driver (`withCommitLocks` is a JVM monitor) and merged
    * monotonically against the value it READ — so two vacuums from
    * DIFFERENT driver processes can still interleave read-then-write
    * and the staler writer can regress `batchwm.txt`. Run vacuum under
    * a single maintenance owner per table (the standard lakehouse
    * operational rule — Iceberg/Delta maintenance jobs are singletons
    * per table for the same reason); concurrent READERS and concurrent
    * writers/committers are unaffected. */
  def vacuum(spark: org.apache.spark.sql.SparkSession, destDir: String,
             keepFrom: Int): Int = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(destDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val latest = latestVersion(spark, destDir)
    require(keepFrom >= 1 && keepFrom <= latest,
      s"keepFrom $keepFrom outside committed versions [1, $latest]")
    // ONE critical section per table (the r15 vacuumTxnLog rule at
    // table granularity): two same-driver vacuums racing would tear
    // the batch-watermark read-modify-write below — the later, staler
    // writer could REGRESS the watermark and re-open the double-apply
    // hole the file exists to close. The table's commit-lock key also
    // serializes against branch-pin writes; commits themselves only
    // take it at the manifest CAS, which never touches pruned
    // versions. Monitors are re-entrant, so enrolled-table callers
    // already under a lock nest safely.
    withCommitLocks(Seq(fs.makeQualified(new Path(destDir)).toString)) {
    // earlier vacuums leave version gaps — a missing manifest is
    // already-cleaned, not an error
    def manifest(v: Int): Option[ManifestData] =
      if (fs.exists(new Path(s"$destDir/manifest/v$v.txt")))
        Some(readManifest(spark, destDir, v))
      else None
    // BRANCH-pinned versions below keepFrom survive whole (manifest +
    // files): a pin is a promise to readers ([[readSnapshotBranch]]),
    // so retention can never pull a branch's state out from under it —
    // dropBranch first if the pin should expire
    val pinned = branchPins(fs, destDir).values.toSet.filter(_ < keepFrom)
    val kept = ((keepFrom to latest) ++ pinned.toSeq).flatMap(manifest(_))
    val droppedVs = (1 until keepFrom).filterNot(pinned)
    val dropped = droppedVs.flatMap(manifest(_))
    // TABLE-LEVEL REPLAY WATERMARK (the txn log's `#tagwm=` pattern at
    // table granularity): pruning the manifest that carries a crashed
    // stream's last `batch=` tag must not make "did batch b commit"
    // undecidable — [[graft.streaming.Ingest]]'s lastBatchTag scan
    // stops at the first missing manifest, so EVERY version below
    // keepFrom becomes scan-unreachable once any is deleted. Record
    // the largest batch id among all of them (pruned AND branch-pinned
    // islands — both sit below the gap) into manifest/batchwm.txt
    // BEFORE any manifest is deleted; the scan answers across the gap
    // from the watermark instead of re-applying the batch. A table
    // whose below-region was already pruned by a pre-watermark build
    // stays watermark-less (minting -1 over unknown history could
    // declare a tagged batch "never committed"); the replay guard
    // refuses loudly there.
    if (droppedVs.nonEmpty) {
      val prevWm = batchWatermark(fs, destDir)
      val legacyGap = prevWm.isEmpty && dropped.size < droppedVs.size
      if (!legacyGap) {
        val below = dropped ++ pinned.toSeq.flatMap(manifest(_))
        val ids = below.flatMap(_.tag).filter(_.startsWith("batch="))
          .map(parseBatchTag(_,
            s"a manifest below keepFrom=$keepFrom of $destDir"))
        val wm = (ids ++ prevWm.toSeq :+ -1L).max
        writeFileAtomic(fs, s"$destDir/manifest/batchwm.txt",
          s"$destDir/manifest/.batchwm_tmp", Seq(wm.toString))
      }
    }
    val keep = kept.flatMap(_.lines.map(linePath)).toSet
    val drop = dropped.flatMap(_.lines.map(linePath))
      .distinct.filterNot(keep)
    drop.foreach(f => fs.delete(new Path(s"$destDir/$f"), false))
    val keepRefs = kept.flatMap(_.entries.filter(_.startsWith("@"))).toSet
    dropped.flatMap(_.entries.filter(_.startsWith("@"))).distinct
      .filterNot(keepRefs)
      .foreach(r => fs.delete(new Path(s"$destDir/${r.drop(1)}"), false))
    droppedVs.foreach { v =>
      fs.delete(new Path(s"$destDir/manifest/v$v.txt"), false)
      ()
    }
    drop.size
    }
  }

  /** Orphan reclamation (Iceberg's `remove_orphan_files` contract):
    * delete `data/v<id>` staging directories — and stale manifest
    * temp/delta files — that NO committed version references and whose
    * modification time is older than `olderThanMs`. Orphans come from
    * crashed publishes (claimed, staged, never committed) and aborted
    * merge races. The AGE GUARD is what separates a crashed publish
    * from an in-flight one — a live publisher stages data before its
    * manifest commit, so `olderThanMs` must exceed the longest publish
    * you run (hours at 100 TB, not minutes). Committed data is never
    * eligible whatever its age: every kept manifest's references are
    * excluded first. Returns the number of deleted orphan dirs+files. */
  def vacuumOrphans(spark: org.apache.spark.sql.SparkSession,
                    destDir: String, olderThanMs: Long): Int = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(destDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val latest = latestVersion(spark, destDir)
    val cutoff = System.currentTimeMillis() - olderThanMs
    val manifests = (1 to latest).flatMap { v =>
      if (fs.exists(new Path(s"$destDir/manifest/v$v.txt")))
        Some(readManifest(spark, destDir, v))
      else None
    }
    // a data dir with ANY referenced file is live; orphan dirs are
    // whole claimed-but-never-committed publishes, so dir granularity
    // is exact (a publish stages a dir atomically from the manifest's
    // point of view — referenced means committed)
    val liveDirs = manifests.flatMap(_.lines.map(l =>
      linePath(l).split("/").take(2).mkString("/"))).toSet
    val liveRefs = manifests.flatMap(_.entries.filter(_.startsWith("@"))
      .map(_.drop(1))).toSet
    var n = 0
    val dataRoot = new Path(s"$destDir/data")
    if (fs.exists(dataRoot))
      fs.listStatus(dataRoot).foreach { st =>
        val rel = s"data/${st.getPath.getName}"
        if (st.isDirectory && !liveDirs(rel) &&
            st.getModificationTime < cutoff) {
          fs.delete(st.getPath, true); n += 1
        }
      }
    val manRoot = new Path(s"$destDir/manifest")
    if (fs.exists(manRoot))
      fs.listStatus(manRoot).foreach { st =>
        val name = st.getPath.getName
        // p<uid>.txt = PENDING transaction manifests (SnapshotTxn): an
        // old one is a crashed, never-committed staging — PROVIDED
        // SnapshotTxn.recover ran first (the txn retention contract:
        // recover-before-vacuum, age guard > longest transaction), which
        // finalizes and removes every committed txn's pendings
        val stale =
          (name.startsWith(".tmp_") || name.startsWith(".dtmp_") ||
            (name.startsWith("p") && name.endsWith(".txt")) ||
            (name.startsWith("d") && name.endsWith(".txt") &&
              !liveRefs(s"manifest/$name"))) &&
            st.getModificationTime < cutoff
        if (stale) { fs.delete(st.getPath, false); n += 1 }
      }
    n
  }
}
