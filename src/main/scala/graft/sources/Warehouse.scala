package graft.sources

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Parquet-backed warehouse table (SURVEY S2, S4-S6): read, append
  * (insert-only load), full refresh (DELETE+INSERT → overwrite), and
  * the CAS commit log plus the cross-table catalog that publish the
  * daily refresh ([[graft.etl.Pipeline.runDailyCat]]): each SCD
  * target's merged state lands as one REPLACE commit, the
  * read-modify-overwrite that replaces the reference's per-row UPDATE
  * loop (S5, ETLScript_withSCDimplementation.py:86-91).
  *
  * `mergeOverwrite` is the single-writer form for rewrites that read
  * their own target ([[Warehouse.mergeInto]],
  * [[Warehouse.reclusterDelta]]): it materializes the result in a
  * sibling temp directory first, then swaps, so the read never sees
  * its own output and a crash mid-write leaves the old table intact.
  * The CAS log replaces the swap with an atomic commit.
  */
/** Evidence a [[Warehouse.casDeleteWhere]] returns: the committed
  * version, how many active commits were rewritten vs retained by
  * reference (the file-skipping proof), and the physical rows
  * removed. `version` is the pre-delete head when nothing was
  * affected (no commit published).
  */
final case class CasDeleteStats(version: Int, rewrittenCommits: Int,
    retainedCommits: Int, deletedRows: Long)

/** Evidence a [[Warehouse.casUpdateWhere]] returns: the committed
  * version, the rewritten-vs-retained commit split (the same
  * extent-skipping proof as the CoW delete), and the rows the SET
  * clauses actually touched. `version` is the pre-update head when
  * no commit could contain a key (no commit published).
  */
final case class CasUpdateStats(version: Int, rewrittenCommits: Int,
    retainedCommits: Int, updatedRows: Long)

/** Evidence a [[Warehouse.casMergeInto]] returns: the committed
  * version, the rewritten-vs-retained commit split (the same
  * extent-skipping proof as the CoW delete/update), matched target
  * rows replaced by their source row, and unmatched source rows
  * landed as the insert wave. `version` is the pre-merge head when
  * the source was empty (no commit published).
  */
final case class CasMergeStats(version: Int, rewrittenCommits: Int,
    retainedCommits: Int, updatedRows: Long, insertedRows: Long)

/** Evidence a [[Warehouse.casApplyCdc]] returns: the committed
  * version, the rewritten-vs-retained commit split, and the rows
  * each CDC clause touched. `version` is the pre-apply head when
  * the change set was empty (no commit published).
  */
final case class CasCdcStats(version: Int, rewrittenCommits: Int,
    retainedCommits: Int, updatedRows: Long, insertedRows: Long,
    deletedRows: Long)

/** Evidence a [[Warehouse.casClusterBy]] returns: the committed
  * version, how many sorted waves the rewrite produced, how many
  * data commits it consumed, and the snapshot's row count.
  */
final case class CasClusterStats(version: Int, waves: Int,
    inputCommits: Int, rows: Long)

/** Evidence a [[Warehouse.casDeleteRange]] returns: the committed
  * version, how many commits were dropped whole (no read — the
  * partition-drop fast path), rewritten (boundary straddlers), and
  * retained by reference, plus the rows removed (footer-grain count
  * of the dropped waves + rows filtered out of rewrites). `version`
  * is the pre-delete head when nothing was affected.
  */
final case class CasRangeDeleteStats(version: Int, droppedCommits: Int,
    rewrittenCommits: Int, retainedCommits: Int, deletedRows: Long)

/** One row of [[Warehouse.casHistory]] — DESCRIBE HISTORY at commit
  * grain: the operation class derived from the commit's verbs, line
  * counts, and the commit file's mtime (wall-clock evidence only;
  * ordering truth is the version number).
  */
final case class CasCommitInfo(version: Int, operation: String,
    lines: Int, dataLines: Int, delLines: Int, modifiedMs: Long)

/** Evidence a [[Warehouse.casOptimize]] returns: the committed
  * version, how many small waves were folded into the one rewrite,
  * and how many big waves were retained by reference. `version` is
  * the pre-optimize head when the table was already within budget
  * (no commit published, `compacted` = 0).
  */
final case class CasOptimizeStats(version: Int, compacted: Int,
    retained: Int)

/** One commit of a [[Warehouse.casCdfPlan]] window — the read-set
  * evidence of the retraction-carrying change feed: `removed` /
  * `added` are the commit lines whose DATA the feed must actually
  * open (a pure append has an empty `removed`; a rewrite names only
  * the waves whose path left/entered the active set — retained-by-
  * reference waves appear in NEITHER). What the wave-grain spec pins.
  * `tombstones` names a new-MoR-tombstone commit's DEL lines: its
  * retractions are resolved at FRAME time (the pre-commit snapshot,
  * extent-pruned by the forget keys' range — the key extent is only
  * known after reading the key file, so the plan lists the DEL
  * lines, not the hit waves).
  */
final case class CasCdfStep(version: Int, removed: Seq[String],
    added: Seq[String], tombstones: Seq[String] = Nil)

/** The TYPED window consult of the change feed
  * ([[Warehouse.casCdfFeed]]) — one log walk produces both the
  * verdict and (when diffable) the frame, so a plan consult and a
  * frame consult can never disagree across a racing commit, and an
  * empty window never borrows a schema by resolving every active
  * wave. The cases are exactly the recoveries a maintainer owns:
  *
  *  - [[CasCdfResult.Retired]] — retention ([[Warehouse.casTruncate]])
  *    retired a commit inside the window: the history is GONE, but
  *    the snapshot at the head is intact — recompute from it (the
  *    refresh path), don't die. Ad-hoc readers
  *    ([[Warehouse.casChangesSinceCdf]]) still fail loudly.
  *  - [[CasCdfResult.NonDiffable]] — a restore or schema evolution
  *    meeting a rewrite: well-formed history no row-level diff can
  *    express; refresh.
  *  - [[CasCdfResult.Empty]] — nothing to read (meta-only commits,
  *    or a tombstone over an empty extent): advance the cursor with
  *    a metadata commit, zero data-path listings.
  *  - [[CasCdfResult.Delta]] — the signed frame plus its wave-grain
  *    read plan.
  */
sealed trait CasCdfResult
object CasCdfResult {
  final case class Retired(reason: String) extends CasCdfResult
  case object NonDiffable extends CasCdfResult
  case object Empty extends CasCdfResult
  final case class Delta(frame: DataFrame,
      plan: Seq[CasCdfStep]) extends CasCdfResult
}

final case class Warehouse(root: String,
    clock: () => Long = () => System.currentTimeMillis()) {

  private def dir(table: String) = s"$root/$table"

  def exists(table: String): Boolean = new File(dir(table)).exists()

  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(dir(table))

  /** Insert-only load (S4/S7). */
  def append(df: DataFrame, table: String): Unit =
    df.write.mode("append").parquet(dir(table))

  /** Partitioned full build (the 100 TB fact layout, SURVEY §4:
    * facts partitioned by their date key). Date-filtered reads then
    * prune whole partitions (`PartitionFilters` in the scan) instead
    * of scanning data files. Overwrite semantics, for rebuilt facts
    * and for writes that must be idempotent under retry (a failed
    * attempt can't double rows).
    */
  def overwritePartitioned(df: DataFrame, table: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(dir(table))

  /** Full refresh (S6: DELETE all + INSERT SELECT). */
  def overwrite(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").parquet(dir(table))

  /** Bucketed CTAS (S8) into the session catalog: co-locates future
    * equi-joins/aggregations on `bucketCols` — two tables bucketed the
    * same way join with NO exchange (verified in SourcesSpec). The
    * 100 TB pattern for repeated joins on the same key (e.g. fact ⋈
    * fact on order id): pay the shuffle once at write time.
    */
  def saveBucketed(df: DataFrame, table: String, nBuckets: Int,
      bucketCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", dir(table))
      .saveAsTable(table)

  /** Append to an existing bucketed table under the SAME bucket spec —
    * the incremental index-maintenance path: delta rows are hashed
    * into the existing bucket layout at write time (new files per
    * bucket, no rewrite of old ones), so downstream bucketed joins
    * and aggregations stay exchange-free across old + new files
    * alike. The write cost tracks the DELTA, never the stored corpus.
    */
  def appendBucketed(df: DataFrame, table: String, nBuckets: Int,
      bucketCols: Seq[String]): Unit =
    df.write.mode("append")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", dir(table))
      .saveAsTable(table)

  /** Atomic-ish replace for merges that read their own target:
    * write to `<table>.tmp`, then swap directories.
    *
    * Crash recovery: there is an unavoidable local-FS window between
    * moving the live dir aside and moving the new one in. If a crash
    * lands in it, the data survives as `<table>.old`; [[recover]] (run
    * automatically on the next mergeOverwrite) rolls it back. An ACID
    * table format replaces all of this with an atomic commit.
    */
  def mergeOverwrite(df: DataFrame, table: String): Unit = {
    recover(table)
    val tmp = new File(dir(table + ".tmp"))
    val live = new File(dir(table))
    val old = new File(dir(table + ".old"))
    df.write.mode("overwrite").parquet(tmp.getPath)
    if (old.exists()) delete(old)
    if (live.exists() && !live.renameTo(old))
      sys.error(s"swap failed: cannot move $live aside")
    if (!tmp.renameTo(live)) sys.error(s"swap failed: cannot move $tmp in")
    delete(old)
  }

  // ---- file-skipping statistics manifest ---------------------------

  /** Persist a per-file (min, max) statistics manifest for `cols` —
    * the data-skipping layer every table format keeps (Delta's
    * per-file stats in the transaction log, Iceberg's manifest
    * files): one scan groups the table by `input_file_name()` and
    * records each file's column extents, so a later range read can
    * decide from the MANIFEST which files to open at all. Parquet
    * row-group stats already prune WITHIN a file the reader opened;
    * the manifest prunes the file LISTING itself — at a 100 TB table
    * that is the difference between touching thousands of footers
    * and touching the handful whose range overlaps. Columns are
    * recorded as exact integer extents (cast to long — keys, date
    * keys, z-values; the pruning use cases), NULLs excluded per
    * parquet stats convention (a file of all-NULL values in `c`
    * records NULL extents and is kept conservatively by readers).
    *
    * Maintenance model: a single-writer operation —
    * rewrite the manifest after a batch of appends (the write is one
    * table scan; production formats append per-file stats at commit
    * time instead, but the CONSUMER contract is identical). Pairs
    * with [[graft.ops.ZOrder.cluster]]: z-ordered writes give every
    * file a narrow span on BOTH curve keys, which is exactly what
    * makes these extents selective.
    */
  private def fileStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    // n_rows first: with per-file row counts in the manifest,
    // aggregates over predicate-aligned files answer from METADATA
    // (see countPruned) — the same reason every table format stores
    // numRecords in its commit stats
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      min(col(c).cast("long")).as(s"min_$c"),
      max(col(c).cast("long")).as(s"max_$c")))
    df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** METADATA-ONLY COUNT with boundary refinement: `count(*) WHERE c
    * BETWEEN lo AND hi` answered by splitting the manifest's files
    * into INTERIOR (extents fully inside the range — their `n_rows`
    * sum straight out of the manifest, zero files opened) and
    * BOUNDARY (extents straddling an endpoint — only these are
    * scanned, with the exact predicate). On a range-clustered table
    * at 100 TB the boundary is O(2 files) regardless of range width
    * — the classic metadata-count plan every lakehouse engine runs
    * for `SELECT count(*)`. Returns (count, interior files, boundary
    * files); files with NULL extents count as boundary
    * (conservative). Same staleness contract as the manifest itself.
    */
  def countPruned(spark: SparkSession, table: String, c: String,
      lo: Long, hi: Long): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val rows = spark.read.parquet(dir(table + "__manifest"))
      .select(col("file"), col(s"min_$c"), col(s"max_$c"),
        col("n_rows")).collect()
    val overlapping = rows.filter { r =>
      r.isNullAt(1) || r.isNullAt(2) ||
        (r.getLong(1) <= hi && r.getLong(2) >= lo)
    }
    val (interior, boundary) = overlapping.partition { r =>
      !r.isNullAt(1) && !r.isNullAt(2) &&
        r.getLong(1) >= lo && r.getLong(2) <= hi
    }
    val metaCount = interior.map(_.getLong(3)).sum
    val scanned =
      if (boundary.isEmpty) 0L
      else spark.read.schema(read(spark, table).schema)
        .parquet(boundary.map(_.getString(0)).toSeq: _*)
        .filter(col(c).cast("long").between(lo, hi))
        .count()
    (metaCount + scanned, interior.length, boundary.length)
  }

  def writeManifest(spark: SparkSession, table: String,
      cols: Seq[String]): Unit = {
    fileStats(read(spark, table), cols)
      .coalesce(1)
      .write.mode("overwrite").parquet(dir(table + "__manifest"))
    refreshTwoLevel(spark, table)
  }

  // the hierarchical tier's build parameters (stats column, group
  // size), recorded so every flat-manifest REWRITE can rebuild the
  // tier instead of leaving a stale group manifest silently naming
  // dead files
  private def manifest2Spec(table: String): File =
    new File(dir(table + "__manifest2.spec"))

  /** The recorded tier parameters, VALIDATED: a truncated or
    * corrupted spec file (crash mid-write on a filesystem without
    * atomic rename, manual tampering) must read as "no usable spec"
    * so callers retire the tier and fall back to the always-correct
    * flat consult — never throw from inside a maintenance op.
    */
  private def readManifest2Spec(table: String): Option[(String, Int)] = {
    val spec = manifest2Spec(table)
    if (!spec.exists()) None
    else {
      val ls = readLines(spec)
      if (ls.length >= 2 && ls.head.nonEmpty)
        ls(1).toIntOption.filter(_ > 0).map(g => (ls.head, g))
      else None
    }
  }

  // a tier whose spec is unusable (or whose stats column vanished)
  // cannot be maintained — delete all three artifacts so consults
  // fall back to the flat manifest
  private def retireTier(table: String): Unit = {
    java.nio.file.Files.deleteIfExists(manifest2Spec(table).toPath)
    delete(new File(dir(table + "__manifest2")))
    delete(new File(dir(table + "__manifest_g")))
  }

  /** Re-derive (or retire) the hierarchical manifest after the flat
    * `__manifest` was REWRITTEN: with a recorded spec the tier is
    * rebuilt from the new flat manifest (metadata-grain — one sort of
    * file-stat rows, no data read); without one, any existing tier is
    * DELETED, because a group manifest that survived a flat rewrite
    * names files that may no longer exist — the consult then falls
    * back to the flat form, which is always correct.
    */
  private def refreshTwoLevel(spark: SparkSession, table: String): Unit =
    readManifest2Spec(table) match {
      case Some((c, gs)) =>
        val sch = spark.read.parquet(dir(table + "__manifest"))
          .schema.fieldNames.toSet
        if (sch(s"min_$c")) writeTwoLevelManifest(spark, table, c, gs)
        else retireTier(table) // rewrite dropped the stats column
      case None =>
        // spec absent OR unusable (malformed) — a surviving tier
        // would name files the rewrite may have removed
        if (manifest2Spec(table).exists() ||
          new File(dir(table + "__manifest2")).exists())
          retireTier(table)
    }

  /** Append `df` AND extend the manifest with ONLY the new files'
    * stats — the commit-time shape every table format uses (stats
    * ride the commit; nothing rescans the table): the data append
    * costs O(delta), and the stats pass reads back just the files
    * the append created (listing diff), so manifest maintenance is
    * O(delta) too. Existing manifest rows are untouched — a
    * [[writeManifest]] full recompute is never needed on the append
    * path (spec-pinned byte-identical to the recompute). Same
    * single-writer model as the other maintenance ops; manifest
    * fragments accrete one small file per append (readers read the
    * directory; compact with a full [[writeManifest]] when fragment
    * count matters).
    *
    * The HIERARCHICAL tier rides the same O(delta) append: a brand-new
    * table gets its group manifest ([[writeTwoLevelManifest]]'s
    * structure, clustered on `cols.head`) built from the first wave,
    * and every later wave lands as its own fresh group(s) — new group
    * rows APPEND to `__manifest_g`/`__manifest2`, old groups are never
    * rewritten, so [[prunedFilesAll]]'s flat driver-collect fallback
    * is dead code on tables born here (it remains reachable only for
    * pre-existing tables whose tier was never built). Delta groups may
    * overlap older groups' key ranges (appends arrive in arrival
    * order, not global sort order) — correctness is untouched, and a
    * periodic [[writeTwoLevelManifest]] rebuild restores the globally
    * range-sorted grouping when selectivity matters.
    */
  def appendWithManifest(spark: SparkSession, df: DataFrame,
      table: String, cols: Seq[String], groupSize: Int = 1000): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    def parts: Set[String] =
      Option(new File(dir(table)).listFiles()).getOrElse(Array())
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).toSet
    val before = if (this.exists(table)) parts else Set.empty[String]
    append(df, table)
    val added = (parts -- before).toSeq
    if (added.nonEmpty) {
      val st = fileStats(
        spark.read.schema(read(spark, table).schema).parquet(added: _*),
        cols).cache()
      st.coalesce(1)
        .write.mode("append").parquet(dir(table + "__manifest"))
      val spec = manifest2Spec(table)
      val specInfo = readManifest2Spec(table)
      // extend the tier when it exists; CREATE it when the table is
      // brand-new; leave pre-existing tierless tables flat (a tier
      // covering only the delta would hide every older file from the
      // group-level consult)
      if (spec.exists() && specInfo.isEmpty) {
        // unreadable spec: the tier's build parameters are lost, so
        // it cannot be extended — retire rather than throw
        retireTier(table)
      } else if ((specInfo.isDefined &&
        !st.columns.contains(s"min_${specInfo.get._1}")) ||
        (specInfo.isEmpty && before.isEmpty && cols.isEmpty)) {
        // this append's `cols` does not cover the tier's stats column
        // (or covers nothing at all): new files would carry no extent
        // on it, and a tier that hides them from the group consult is
        // wrong — retire; the flat fallback stays correct
        retireTier(table)
      } else if (specInfo.isDefined || before.isEmpty) {
        val (c, gs) = specInfo.getOrElse((cols.head, groupSize))
        val maxGid =
          if (new File(dir(table + "__manifest2")).exists())
            spark.read.parquet(dir(table + "__manifest2"))
              .agg(max(col("gid"))).head().getInt(0)
          else -1
        // unpartitioned window = single partition, but the input is
        // METADATA-grain: one row per file THIS append created (the
        // listing diff), bounded by the wave's file count — never the
        // table's; same bounded-collect convention as the SimQueries
        // probe lists
        val stG = st.withColumn("gid",
          (lit(maxGid + 1) +
            (row_number().over(Window.orderBy(col(s"min_$c"),
              col("file"))) - 1) / gs).cast("int"))
        stG.coalesce(1)
          .write.mode("append").parquet(dir(table + "__manifest_g"))
        stG.groupBy("gid")
          .agg(count(lit(1)).as("n_files"), sum("n_rows").as("n_rows"),
            min(s"min_$c").as(s"min_$c"), max(s"max_$c").as(s"max_$c"),
            max(when(col(s"min_$c").isNull || col(s"max_$c").isNull, 1)
              .otherwise(0)).as("has_null_extent"))
          .coalesce(1)
          .write.mode("append").parquet(dir(table + "__manifest2"))
        if (!spec.exists()) writeLines(spec, Seq(c, gs.toString))
      } else if (new File(dir(table + "__manifest2")).exists()) {
        // a spec-less tier (hand-built before the spec existed) cannot
        // be extended — after this append it would hide the new files
        // from the group-level consult, so it must retire; the flat
        // fallback stays correct
        delete(new File(dir(table + "__manifest2")))
        delete(new File(dir(table + "__manifest_g")))
      }
      st.unpersist()
      ()
    }
  }

  /** The manifest consult: which of the table's files can contain
    * rows with `c` in [lo, hi]? Returns (kept file paths, total file
    * count). The manifest pull is DRIVER-SIDE and bounded at FILE
    * grain — one row per data file, the same coordinator-side read
    * every table format's planner performs on its transaction
    * log/manifest list (hierarchical manifest compaction is how the
    * real formats bound this further; out of scope here). Files with
    * NULL extents (all-NULL stats column) are kept conservatively.
    */
  def prunedFiles(spark: SparkSession, table: String, c: String,
      lo: Long, hi: Long): (Seq[String], Int) =
    prunedFilesAll(spark, table, Seq((c, lo, hi)))

  /** Conjunctive (box) manifest consult: keep a file only if EVERY
    * predicate's recorded [min, max] overlaps its range. This is the
    * read path z-ordered layouts exist for ([[graft.ops.ZOrder
    * .cluster]]): the curve gives every file a compact rectangle in
    * (a, b) space, so a 2-D box predicate skips on BOTH dimensions —
    * a single-key sort would leave the second key's per-file extents
    * spanning the full domain (one dimension never skips).
    */
  def prunedFilesAll(spark: SparkSession, table: String,
      preds: Seq[(String, Long, Long)]): (Seq[String], Int) =
    twoLevelConsult(spark, table, preds) match {
      // group-level first whenever the hierarchical manifest exists:
      // the driver pulls the group summary plus only SURVIVING groups'
      // file rows, never the full file-grain manifest
      case Some(r) => (r.kept, r.filesTotal)
      case None =>
        import org.apache.spark.sql.functions.col
        val cols = col("file") +: preds.flatMap { case (c, _, _) =>
          Seq(col(s"min_$c"), col(s"max_$c")) }
        val rows = spark.read.parquet(dir(table + "__manifest"))
          .select(cols: _*).collect()
        val kept = rows.filter { r =>
          preds.zipWithIndex.forall { case ((_, lo, hi), i) =>
            val (mi, ma) = (1 + 2 * i, 2 + 2 * i)
            r.isNullAt(mi) || r.isNullAt(ma) ||
              (r.getLong(mi) <= hi && r.getLong(ma) >= lo)
          }
        }.map(_.getString(0))
        (kept.toSeq, rows.length)
    }

  /** The shared two-level consult: group summary first (the only
    * unconditional metadata read), then ONLY surviving groups' file
    * rows — `None` when the table has no hierarchical manifest or the
    * summary carries extents for none of the predicate columns (the
    * caller falls back to the flat file-grain consult). The group
    * tier prunes on the subset of predicates the summary covers (the
    * clustering column); the file tier applies ALL predicates.
    */
  private def twoLevelConsult(spark: SparkSession, table: String,
      preds: Seq[(String, Long, Long)]): Option[TwoLevelResult] = {
    import org.apache.spark.sql.functions.col
    if (!new File(dir(table + "__manifest2")).exists()) return None
    val summary = spark.read.parquet(dir(table + "__manifest2"))
    val sch = summary.schema.fieldNames.toSet
    // a summary written by an earlier layout (or any foreign store)
    // may lack the NULL-extent flag / file counts — falling back to
    // the flat manifest is always correct; throwing here would brick
    // every consult of the table
    if (!sch("has_null_extent") || !sch("n_files")) return None
    val gPreds = preds.filter(p =>
      sch(s"min_${p._1}") && sch(s"max_${p._1}"))
    if (gPreds.isEmpty) return None
    val gCols = Seq(col("gid"), col("has_null_extent"), col("n_files")) ++
      gPreds.flatMap { case (c, _, _) => Seq(col(s"min_$c"), col(s"max_$c")) }
    val groups = summary.select(gCols: _*).collect()
    val totalFiles = groups.map(_.getLong(2)).sum.toInt
    val keptGids = groups.filter { r =>
      r.getInt(1) == 1 || gPreds.zipWithIndex.forall { case ((_, lo, hi), i) =>
        val (mi, ma) = (3 + 2 * i, 4 + 2 * i)
        r.isNullAt(mi) || r.isNullAt(ma) ||
          (r.getLong(mi) <= hi && r.getLong(ma) >= lo)
      }
    }.map(_.getInt(0)).toSeq
    if (keptGids.isEmpty)
      return Some(TwoLevelResult(Seq.empty, totalFiles, groups.length, 0, 0))
    val fCols = col("file") +: preds.flatMap { case (c, _, _) =>
      Seq(col(s"min_$c"), col(s"max_$c")) }
    val fileRows = spark.read.parquet(dir(table + "__manifest_g"))
      .filter(col("gid").isin(keptGids: _*))
      .select(fCols: _*).collect()
    val kept = fileRows.filter { r =>
      preds.zipWithIndex.forall { case ((_, lo, hi), i) =>
        val (mi, ma) = (1 + 2 * i, 2 + 2 * i)
        r.isNullAt(mi) || r.isNullAt(ma) ||
          (r.getLong(mi) <= hi && r.getLong(ma) >= lo)
      }
    }.map(_.getString(0)).toSeq
    Some(TwoLevelResult(kept, totalFiles, groups.length, keptGids.length,
      fileRows.length))
  }

  /** Range read through the manifest: open ONLY the files whose
    * recorded [min, max] on `c` overlaps [lo, hi], then apply the
    * exact predicate (the manifest is a superset filter; parquet
    * row-group stats and the filter itself finish the job — the
    * standard two-level pruning stack). Falls back to an empty
    * same-schema frame when no file overlaps.
    */
  def readPruned(spark: SparkSession, table: String, c: String,
      lo: Long, hi: Long): DataFrame =
    readPrunedBox(spark, table, Seq((c, lo, hi)))

  // ---- hierarchical (two-level) manifest ---------------------------

  /** Promote the flat file manifest to TWO LEVELS — the
    * manifest-list-over-manifests structure Iceberg/Delta use so the
    * planner's metadata read is bounded by SURVIVING GROUPS, not
    * total files (the [[prunedFiles]] scaladoc's "hierarchical
    * manifest compaction", now in scope): sort the file manifest by
    * `min_$c`, cut it into `groupSize`-file groups (range-sorted, so
    * each group owns a compact key interval — the property that
    * makes group extents selective), stamp each file row with its
    * group id, and write a summary table of per-group extents +
    * row/file counts. At 10^6 files and groupSize 1000 the planner
    * reads 10^3 summary rows plus only the surviving groups' file
    * rows — O(√files)-ish instead of O(files).
    */
  def writeTwoLevelManifest(spark: SparkSession, table: String,
      c: String, groupSize: Int): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val m = spark.read.parquet(dir(table + "__manifest"))
      .withColumn("gid",
        ((row_number().over(Window.orderBy(col(s"min_$c"), col("file")))
          - 1) / groupSize).cast("int"))
    m.coalesce(1).write.mode("overwrite")
      .parquet(dir(table + "__manifest_g"))
    spark.read.parquet(dir(table + "__manifest_g"))
      .groupBy("gid")
      .agg(count(lit(1)).as("n_files"), sum("n_rows").as("n_rows"),
        min(s"min_$c").as(s"min_$c"), max(s"max_$c").as(s"max_$c"),
        // min/max SKIP NULLs, so a NULL-extent file (all-NULL stats
        // column) grouped with non-NULL files would hide behind the
        // group's non-NULL extent and get pruned away with it — the
        // flag forces such groups to be kept conservatively, matching
        // the flat manifest's NULL-keeps-file behavior at group grain
        max(when(col(s"min_$c").isNull || col(s"max_$c").isNull, 1)
          .otherwise(0)).as("has_null_extent"))
      .coalesce(1).write.mode("overwrite")
      .parquet(dir(table + "__manifest2"))
    // record the build parameters so every later flat-manifest rewrite
    // ([[writeManifest]], [[reclusterDelta]]) rebuilds the tier instead
    // of leaving it stale, and [[appendWithManifest]] extends it
    writeLines(manifest2Spec(table), Seq(c, groupSize.toString))
  }

  /** The two-level consult: read the GROUP summary first (gid grain —
    * the only unconditional metadata read), keep groups whose extent
    * overlaps [lo, hi], then read ONLY those groups' file rows and
    * prune at file grain. Returns (kept files, groups total, groups
    * kept, file rows consulted) — the last is the planner-read bound
    * the structure exists for: file rows outside surviving groups
    * are never loaded (the filter prunes on gid before the driver
    * collect; in a production format each group is a separate
    * manifest FILE and the prune skips whole objects). NULL extents
    * kept conservatively at both levels.
    */
  def prunedFilesTwoLevel(spark: SparkSession, table: String, c: String,
      lo: Long, hi: Long): (Seq[String], Int, Int, Int) = {
    val r = twoLevelConsult(spark, table, Seq((c, lo, hi)))
      .getOrElse(sys.error(s"no two-level manifest on $table covers $c"))
    (r.kept, r.groupsTotal, r.groupsKept, r.fileRowsPulled)
  }

  /** Range read through the two-level manifest — [[readPruned]] with
    * the [[prunedFilesTwoLevel]] consult. Falls back to an empty
    * same-schema frame when nothing survives.
    */
  def readPrunedTwoLevel(spark: SparkSession, table: String, c: String,
      lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (files, _, _, _) = prunedFilesTwoLevel(spark, table, c, lo, hi)
    val schema = read(spark, table).schema
    val base =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(files: _*)
    base.filter(col(c).cast("long").between(lo, hi))
  }

  // ---- incremental re-clustering (OPTIMIZE ZORDER-lite) ------------

  private def dataFiles(table: String): Seq[String] =
    Option(new File(dir(table)).listFiles()).getOrElse(Array())
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).toSeq.sorted

  private def markerFile(table: String): File = {
    val d = new File(dir(table + "__clustered"))
    d.mkdirs()
    new File(d, "files.txt")
  }

  private def journalFile(table: String): File =
    new File(new File(dir(table + "__clustered")), "journal.txt")

  /** A missing file reads as empty — also one deleted between a caller's
    * listing and this open (a concurrent [[casTruncate]]), which an
    * exists-then-open check would let through as an exception.
    */
  private def readLines(f: File): Seq[String] =
    try {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().toList finally src.close()
    } catch {
      case _: java.io.FileNotFoundException if !f.exists() => Seq.empty
    }

  /** Atomic line-file write: content lands in a temp sibling first and
    * is RENAMED into place, so a reader (or a crash-recovery pass)
    * never observes a partially-written file. This is load-bearing for
    * every journal ([[transact]], [[wapPublish]], [[reclusterDelta]]):
    * a torn journal would make roll-forward recovery land a SUBSET of
    * the recorded swaps — exactly the half-committed state the
    * journals exist to prevent. With the rename, the journal either
    * exists complete or not at all.
    */
  private def writeLines(f: File, lines: Seq[String]): Unit = {
    import java.nio.file.{Files, StandardCopyOption => O}
    val tmp = new File(f.getParentFile, f.getName + ".tmp")
    Files.write(tmp.toPath,
      lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp.toPath, f.toPath, O.ATOMIC_MOVE, O.REPLACE_EXISTING)
    ()
  }

  /** Record the table's CURRENT data files as z-clustered — called
    * right after an initial clustered build so later
    * [[reclusterDelta]] calls know which files to leave alone.
    */
  def markClustered(table: String): Unit =
    writeLines(markerFile(table), dataFiles(table))

  /** Roll the recluster commit journal FORWARD: each `MV tmp final`
    * whose final is absent is completed, each `RM path` deleted if
    * still present, then the journal clears. Idempotent — a crash
    * anywhere inside a previous [[reclusterDelta]] commit (or inside
    * THIS recovery) re-runs to the same end state, because every
    * step is "make this file exist/not exist".
    */
  def recoverRecluster(table: String): Unit = {
    val j = journalFile(table)
    val lines = readLines(j)
    if (lines.isEmpty) return
    lines.foreach { l =>
      if (l.startsWith("MV ") && l.split(" ", 3).length == 3) {
        val Array(_, tmp, fin) = l.split(" ", 3)
        val (tf, ff) = (new File(tmp), new File(fin))
        if (!ff.exists() && tf.exists() && !tf.renameTo(ff))
          sys.error(s"recluster recovery: cannot move $tmp to $fin")
      } else if (l.startsWith("RM ")) {
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(l.drop(3)))
      }
    }
    java.nio.file.Files.deleteIfExists(j.toPath)
    ()
  }

  /** Incremental re-cluster — the `OPTIMIZE ZORDER` maintenance pass
    * reduced to its essence: files the marker records as already
    * clustered are LEFT ALONE (their bytes are never read or
    * rewritten — the property that makes nightly maintenance
    * affordable on a table with years of closed data); only the
    * files appends created since are read, run through
    * [[graft.ops.ZOrder.cluster]] on (a, b), and swapped in. The
    * swap is a ROLL-FORWARD COMMIT: new files stage outside the
    * table, a journal records the intended moves and deletes, and
    * only then does the table mutate — a crash at ANY point either
    * left the table untouched (journal written, nothing moved:
    * recovery completes the commit) or is finished by
    * [[recoverRecluster]] on the next call; readers never see a
    * state with rows missing (the delta files are deleted only
    * after their clustered replacements are in place — the window
    * where BOTH exist is the duplicate-visible window an ACID
    * format's atomic commit removes, stated per house convention).
    * The manifest, if present, is maintained at METADATA cost: rows
    * for removed files drop, stats for the new files append-compute
    * from just those files. Returns the number of delta files
    * reclustered. Single-writer, like every maintenance op here.
    */
  def reclusterDelta(spark: SparkSession, table: String, a: String,
      b: String, manifestCols: Seq[String] = Seq.empty, bits: Int = 10,
      partitions: Int = 8): Int = {
    import org.apache.spark.sql.functions.col
    recoverRecluster(table)
    val marker = markerFile(table)
    val clustered = readLines(marker).toSet
    val delta = dataFiles(table).filterNot(clustered)
    if (delta.isEmpty) return 0
    val schema = read(spark, table).schema
    val stageDir = new File(dir(table + ".recluster_tmp"))
    if (stageDir.exists()) delete(stageDir)
    graft.ops.ZOrder.cluster(
        spark.read.schema(schema).parquet(delta: _*),
        col(a), col(b), bits, partitions)
      .drop("z")
      .write.mode("overwrite").parquet(stageDir.getPath)
    val staged = Option(stageDir.listFiles()).getOrElse(Array())
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
    val moves = staged.map(f => f.getAbsolutePath ->
      new File(dir(table), s"zc-${f.getName}").getAbsolutePath)
    // journal THEN mutate: recovery rolls the commit forward
    writeLines(journalFile(table),
      moves.map { case (t, f) => s"MV $t $f" } ++
        delta.map(d => s"RM $d"))
    recoverRecluster(table)
    delete(stageDir)
    writeLines(marker,
      (clustered -- delta).toSeq ++ moves.map(_._2))
    if (manifestCols.nonEmpty &&
      new File(dir(table + "__manifest")).exists()) {
      val keep = spark.read.parquet(dir(table + "__manifest"))
        .filter(!col("file").isin(
          delta.map(p => "file://" + p) ++ delta: _*))
      val fresh = fileStats(
        spark.read.schema(schema).parquet(moves.map(_._2): _*),
        manifestCols)
      // no driver roundtrip: the merged manifest is written aside and
      // swapped in ([[mergeOverwrite]]'s crash-safe rename), so the
      // self-read (keep scans the live manifest) never races its own
      // overwrite and the merge stays distributed at any file count
      mergeOverwrite(keep.unionByName(fresh).coalesce(1),
        table + "__manifest")
      // the flat manifest changed shape (rows dropped + added), so the
      // hierarchical tier rebuilds from it — or retires, if no spec
      refreshTwoLevel(spark, table)
    }
    delta.size
  }

  // ---- per-file Bloom membership (point-lookup skipping) -----------

  /** The `k` Bloom bit positions of `key` — shared by the build
    * (Column side) and the consult (driver side) through ONE
    * derivation: position i is `pmod(xxhash64(i, key), bits)`, and
    * Spark's xxhash64 folds children left-to-right from seed 42
    * (`h = hashLong(i, 42); hashLong(key, h)`), which
    * [[bloomPositions]] mirrors via the same catalyst XXH64 kernel —
    * the two sides cannot drift because they call the same hash.
    */
  private[graft] def bloomPositions(key: Long, bits: Int,
      k: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    (0 until k).map { i =>
      val h = XXH64.hashLong(key, XXH64.hashLong(i.toLong, 42L))
      (((h % bits) + bits) % bits).toInt
    }
  }

  /** Persist a per-file BLOOM membership sidecar for point lookups
    * on `c` — the skip structure min/max extents cannot provide: on
    * a table clustered by some OTHER key, every file's [min, max] on
    * `c` spans the whole domain (range consult keeps everything),
    * but an equality probe only needs to open files that MIGHT
    * contain the key. Each file records the SORTED DISTINCT Bloom
    * positions of its keys (`k` positions per key over a `bits`-wide
    * space) — the sparse representation of the bitset a production
    * format packs (Parquet/Delta bloom filters); membership testing
    * and false-positive behavior are identical, and absence of all
    * `k` positions is a PROOF of absence (no false negatives — the
    * property the spec pins through result equality).
    */
  def writeBloomManifest(spark: SparkSession, table: String, c: String,
      bits: Int = 4096, k: Int = 4): Unit = {
    import org.apache.spark.sql.functions._
    val posCols = (0 until k).map(i =>
      pmod(xxhash64(lit(i.toLong), col(c).cast("long")), lit(bits))
        .cast("int"))
    read(spark, table)
      .select(input_file_name().as("file"),
        explode(array(posCols: _*)).as("pos"))
      .groupBy("file")
      .agg(sort_array(collect_set(col("pos"))).as("positions"))
      .coalesce(1)
      .write.mode("overwrite").parquet(dir(table + s"__bloom_$c"))
  }

  /** Bloom consult: files that MIGHT contain `c = key` (all `k`
    * positions present), plus the total file count. Driver-side at
    * file grain, like [[prunedFilesAll]].
    */
  def bloomPrunedFiles(spark: SparkSession, table: String, c: String,
      key: Long, bits: Int = 4096, k: Int = 4): (Seq[String], Int) = {
    import org.apache.spark.sql.functions.col
    val probe = bloomPositions(key, bits, k).toSet
    val rows = spark.read.parquet(dir(table + s"__bloom_$c"))
      .select(col("file"), col("positions")).collect()
    val kept = rows.filter { r =>
      val ps = r.getSeq[Int](1).toSet
      probe.subsetOf(ps)
    }.map(_.getString(0))
    (kept.toSeq, rows.length)
  }

  /** Point lookup through the Bloom sidecar: open only files whose
    * filter admits the key, then apply the exact equality (Bloom is
    * a superset filter — false positives open a file for nothing,
    * false negatives are impossible by construction).
    */
  def readPointLookup(spark: SparkSession, table: String, c: String,
      key: Long, bits: Int = 4096, k: Int = 4): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val kept = bloomPrunedFiles(spark, table, c, key, bits, k)._1
    val base =
      if (kept.isEmpty) read(spark, table).filter(lit(false))
      else spark.read.schema(read(spark, table).schema)
        .parquet(kept: _*)
    base.filter(col(c).cast("long") === key)
  }

  /** Box read through the manifest: open only files overlapping
    * EVERY range, then apply the exact conjunctive predicate (the
    * manifest is a superset filter; parquet row-group stats and the
    * filter finish the job).
    */
  def readPrunedBox(spark: SparkSession, table: String,
      preds: Seq[(String, Long, Long)]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (kept, _) = prunedFilesAll(spark, table, preds)
    val base =
      if (kept.isEmpty) read(spark, table).filter(lit(false))
      else spark.read.schema(read(spark, table).schema)
        .parquet(kept: _*)
    preds.foldLeft(base) { case (d, (c, lo, hi)) =>
      d.filter(col(c).cast("long").between(lo, hi))
    }
  }

  // ---- merge-on-read deletion vectors ------------------------------

  /** Lazy DELETE at key grain — the deletion-vector semantics the
    * lakehouse formats (Delta DVs, Iceberg equality deletes) use to
    * avoid rewriting base files for every delete: deleted keys
    * APPEND to a sidecar `<table>__dv` table (O(deletes) write, base
    * untouched), and reads subtract the vector ([[readMor]]). Key-grain
    * equality deletes, not row-position deletes — this store has no
    * stable row ids; a key in the vector is deleted wherever it
    * appears.
    */
  def deleteKeys(keys: DataFrame, table: String): Unit =
    keys.write.mode("append").parquet(dir(table + "__dv"))

  /** Merge-on-read: base ANTI JOIN deletion vector on `keyCol`. No
    * distinct on the vector side, deliberately: anti-join semantics
    * make duplicate deleted keys harmless, so the delete path never
    * pays a dedup shuffle, and re-applying a vector is a no-op.
    * At scale the vector is usually broadcast-sized
    * (deletes ≪ base); AQE picks BHJ.
    */
  def readMor(spark: SparkSession, table: String,
      keyCol: String): DataFrame = {
    val base = read(spark, table)
    val dvDir = new File(dir(table + "__dv"))
    if (!dvDir.exists()) base
    else base.join(
      spark.read.parquet(dvDir.getPath)
        .select(org.apache.spark.sql.functions.col(keyCol)),
      Seq(keyCol), "left_anti")
  }

  /** Lazy UPSERT at key grain — the other half of merge-on-read
    * (Hudi MOR / Delta CDF shape): new row VERSIONS append to a
    * sidecar `<table>__up` (schema-identical to the base, which
    * carries its rows at the caller's base version), and
    * [[readMorUpsert]] resolves latest-wins per key. Versions are
    * caller-supplied (a lamport/batch number) — determinism is the
    * caller's `verCol` being totally ordered per key; exact ties
    * resolve by the remaining fields via struct ordering, never by
    * arrival order.
    */
  def upsertRows(rows: DataFrame, table: String): Unit =
    rows.write.mode("append").parquet(dir(table + "__up"))

  /** Merge-on-read upsert resolution: base ∪ sidecar, one key-grain
    * aggregate keeping the max-(version, fields...) struct — no
    * window, no sort; the exchange carries one packed struct per
    * (key, partition) after partial aggregation. Column order of the
    * base table is preserved in the output.
    */
  def readMorUpsert(spark: SparkSession, table: String,
      keyCol: String, verCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, max, struct}
    val base = read(spark, table)
    val upDir = new File(dir(table + "__up"))
    val all =
      if (!upDir.exists()) base
      else base.unionByName(spark.read.parquet(upDir.getPath))
    val others = all.columns.filter(_ != keyCol)
    val packed = struct(
      (col(verCol) +: others.filter(_ != verCol).map(col)).toSeq: _*)
    val resolved = all.groupBy(col(keyCol)).agg(max(packed).as("__s"))
    val restored = others.filter(_ != verCol)
      .foldLeft(resolved.withColumn(verCol, col(s"__s.$verCol"))) {
        (d, c) => d.withColumn(c, col(s"__s.$c"))
      }
    restored.select(all.columns.map(col).toSeq: _*)
  }

  /** Roll back from a crash inside mergeOverwrite's swap window: if no
    * live dir exists but a `.old` does, restore it (the `.old` is the
    * last complete table; any `.tmp` is an unfinished write and is
    * discarded by the next write anyway).
    */
  def recover(table: String): Unit = {
    val live = new File(dir(table))
    val old = new File(dir(table + ".old"))
    if (!live.exists() && old.exists() && !old.renameTo(live))
      sys.error(s"recovery failed: cannot restore $old to $live")
  }

  // ---- optimistic concurrency: CAS commit log ----------------------

  private def casLogDir(table: String): File = {
    val d = new File(dir(table + "__log")); d.mkdirs(); d
  }

  private def casCommitFile(table: String, n: Int): File =
    new File(casLogDir(table), f"$n%09d.commit")

  /** Highest committed version of a CAS-logged table (0 = empty).
    * Versions are contiguous by construction: committing N requires
    * observing head N-1 (inductively, every committed number's
    * predecessor existed first), so max IS the head.
    */
  def casHead(table: String): Int =
    Option(casLogDir(table).listFiles()).getOrElse(Array())
      .map(_.getName).filter(_.endsWith(".commit"))
      .flatMap(_.stripSuffix(".commit").toIntOption)
      .foldLeft(0)(math.max)

  /** Whether the table's current snapshot names any data wave at all
    * — the BOOT detection incremental maintainers need: `casHead > 0`
    * alone misclassifies a table whose only commits are cursor-only
    * TXN advances (a first maintenance window that netted to zero
    * rows), leaving it forever unreadable because the empty seed
    * append never happens. A readable-but-empty snapshot (a REPLACE
    * of zero rows) still counts as data.
    */
  def casHasData(table: String): Boolean =
    casHead(table) > 0 && casActiveCmds(table).nonEmpty

  /** The compare-and-swap primitive: publish `lines` as version `n`
    * IF AND ONLY IF no other writer got there first. The content is
    * fully written to a private temp file, then HARD-LINKED to the
    * commit name — link(2) is atomic create-if-absent WITH content
    * (a plain rename would silently replace a concurrent winner on
    * POSIX; O_EXCL creation alone cannot carry content atomically).
    * Returns false on conflict — the commit file either appears
    * complete or not at all, never torn. This is the same primitive
    * an object-store deployment gets from conditional PUT
    * (If-None-Match) and Iceberg/Delta get from their catalog CAS.
    */
  private def casTryCommit(table: String, n: Int,
      lines: Seq[String]): Boolean =
    tryCommitIn(casLogDir(table), n, lines)

  // the raw hard-link CAS against an arbitrary log directory — shared
  // by the per-table log and the catalog log, so both tiers publish
  // through literally the same primitive. Every commit leads with a
  // `TS <millis>` metadata line from the injected clock, clamped
  // monotone against the predecessor commit (two racing writers read
  // their clocks before the CAS decides order; the clamp keeps the
  // recorded timeline nondecreasing, which is what lets
  // [[casVersionAsOf]]/[[catVersionAsOf]] binary-search it) — the
  // Delta commitInfo-timestamp discipline.
  private def tryCommitIn(logDir: File, n: Int,
      lines: Seq[String]): Boolean = {
    val prevTs =
      if (n <= 1) Long.MinValue
      else readLines(new File(logDir, f"${n - 1}%09d.commit"))
        .headOption.filter(_.startsWith("TS "))
        .flatMap(_.stripPrefix("TS ").toLongOption)
        .getOrElse(Long.MinValue)
    val ts = math.max(clock(), prevTs)
    val tmp = new File(logDir,
      f"$n%09d.tmp-" + java.util.UUID.randomUUID().toString)
    java.nio.file.Files.write(tmp.toPath,
      (s"TS $ts" +: lines).mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try {
      java.nio.file.Files.createLink(
        new File(logDir, f"$n%09d.commit").toPath, tmp.toPath)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally {
      java.nio.file.Files.deleteIfExists(tmp.toPath)
      ()
    }
  }

  /** Thrown when a CAS writer exhausts its retries — the caller
    * decides whether to back off and resubmit; no partial state
    * exists (staged-but-uncommitted files are invisible to readers).
    */
  final class CommitConflict(msg: String) extends RuntimeException(msg)

  /** MULTI-WRITER APPEND — optimistic concurrency for the insert
    * path: data files land under a writer-unique staging directory
    * FIRST (uncommitted data is invisible: [[casRead]] only opens
    * directories the log names), then the writer loops CAS attempts
    * at head+1. A loser re-reads the head and retries — its staged
    * files are still there, so NO ROWS ARE LOST under any interleave
    * (spec-pinned with an injected mid-window competitor). This is
    * what the single-writer journal devices ([[transact]],
    * [[mergeOverwrite]]) cannot give: two uncoordinated writers, one
    * winner per version, loser retries cleanly. `beforeCommit` is a
    * test seam firing between the head read and the CAS attempt.
    */
  def casAppend(df: DataFrame, table: String, retries: Int = 8,
      beforeCommit: () => Unit = () => ()): Int = {
    val staged = new File(new File(dir(table + "__data")),
      java.util.UUID.randomUUID().toString)
    df.write.mode("errorifexists").parquet(staged.getPath)
    var attempt = 0
    while (attempt < retries) {
      val n = casHead(table) + 1
      beforeCommit()
      if (casTryCommit(table, n, Seq("ADD " + staged.getPath))) {
        casMaybeVacuum(table, n)
        casMaybeOptimize(df.sparkSession, table, n)
        return n
      }
      attempt += 1
    }
    throw new CommitConflict(
      s"casAppend($table): lost $retries CAS races; staged data " +
        s"retained at ${staged.getPath}")
  }

  /** MULTI-WRITER READ-MODIFY-REPLACE — the OCC form of
    * [[mergeInto]]/[[mergeOverwrite]]: compute the full new state
    * from the CURRENT snapshot, stage it, and CAS a REPLACE commit
    * at head+1. On conflict the ENTIRE transform re-runs against the
    * new head (optimistic concurrency's retry contract — the merge
    * must not be applied to a stale base, which is exactly the
    * check-then-act race the single-writer devices cannot detect).
    */
  def casReplace(spark: SparkSession, table: String,
      retries: Int = 8, beforeCommit: () => Unit = () => ())(
      fn: DataFrame => DataFrame): Int = {
    var attempt = 0
    while (attempt < retries) {
      val head = casHead(table)
      val out = fn(casRead(spark, table))
      val staged = new File(new File(dir(table + "__data")),
        java.util.UUID.randomUUID().toString)
      out.write.mode("errorifexists").parquet(staged.getPath)
      beforeCommit()
      if (casTryCommit(table, head + 1,
        Seq("REPLACE " + staged.getPath))) return head + 1
      // loser's staged state is stale BY DEFINITION (it derives from a
      // snapshot that is no longer the head) and is recomputed on the
      // retry anyway — drop it now instead of leaving an orphan for
      // casVacuum to find
      delete(staged)
      attempt += 1 // conflict: recompute against the new snapshot
    }
    throw new CommitConflict(
      s"casReplace($table): lost $retries CAS races")
  }

  /** The active commit lines: scan BACKWARD from head, stopping at
    * the first compaction point — a REPLACE commit (whole new state)
    * or a CKPT commit ([[casCheckpoint]]'s snapshot of the then-active
    * lines). The backward scan is what bounds replay cost: the driver
    * reads O(commits since the last checkpoint) small files, not the
    * whole log — the Delta checkpoint discipline. Commits may carry
    * multiple lines (a CKPT commit carries the full snapshot).
    */
  private def casActiveCmds(table: String): Seq[String] =
    casActiveCmdsAt(table, casHead(table))

  /** The active lines of the snapshot AT version `upTo` — the same
    * backward replay bounded below head, which is all CAS time travel
    * is ([[casReadAt]]) and what resolves a CATALOG pin to concrete
    * data paths. A missing commit inside the replay window fails
    * LOUDLY: [[casTruncate]] may have retired it, and silently
    * returning the partial suffix would serve a wrong (subset)
    * snapshot.
    */
  private def casActiveCmdsAt(table: String, upTo: Int): Seq[String] = {
    var acc = List.empty[String]
    var n = upTo
    var atStop = false
    while (n >= 1 && !atStop) {
      val f = casCommitFile(table, n)
      if (!f.exists())
        sys.error(s"casActiveCmdsAt($table, $upTo): commit $n is " +
          "missing (truncated log?) — snapshot unreadable")
      val ls = readLines(f)
      acc = ls.toList ++ acc
      if (ls.exists(l => casIsReplace(l) || l == "CKPT"))
        atStop = true
      n -= 1
    }
    acc.filterNot(casIsMeta)
  }

  // metadata lines carry no data path: the CKPT marker, the
  // per-stream TXN summaries a checkpoint records for batch dedup,
  // the SUB subscriber registrations (+ the SUBCK restatement
  // sentinel checkpoints carry), and the commit timestamp every
  // commit leads with
  private def casIsMeta(l: String): Boolean =
    l == "CKPT" || l == "SUBCK" || l.startsWith("TXN ") ||
      l.startsWith("SUB ") || l.startsWith("TS ")

  /** Per-stream maximum committed batch id, folded BACKWARD to the
    * last checkpoint: ADDB lines since the checkpoint max-merge over
    * the TXN summary the checkpoint itself carries — so computing the
    * state is O(commits since checkpoint), never a full log scan, and
    * each checkpoint's summary is complete over ALL history by
    * induction (its predecessor's was).
    */
  private def casTxnState(table: String): Map[String, Long] =
    casTxnStateBelow(table, casHead(table) + 1)

  private def casTxnStateBelow(table: String,
      below: Int): Map[String, Long] = {
    var acc = Map.empty[String, Long]
    def merge(s: String, b: Long): Unit =
      if (acc.getOrElse(s, Long.MinValue) < b) acc += (s -> b)
    var n = below - 1
    var atStop = false
    while (n >= 1 && !atStop) {
      val ls = readLines(casCommitFile(table, n))
      ls.foreach { l =>
        if (l.startsWith("ADDB ")) {
          val p = l.split(" ", 4); merge(p(1), p(2).toLong)
        } else if (l.startsWith("TXN ")) {
          val p = l.split(" ", 3); merge(p(1), p(2).toLong)
        }
      }
      // same legacy discipline as [[casCommittedBatchBelow]]: a
      // checkpoint summarizes all older history only if it actually
      // wrote TXN lines — scan past a TXN-less (legacy) checkpoint,
      // because ADDB lines a REPLACE compacted away before it are
      // not in its snapshot
      if (ls.contains("CKPT") && ls.exists(_.startsWith("TXN ")))
        atStop = true
      n -= 1
    }
    acc
  }

  /** LOG CHECKPOINT — fold the active command lines into ONE commit
    * (marker line `CKPT` + the lines verbatim, stats and all), so the
    * next reader's backward replay stops here: consult cost becomes
    * O(commits since checkpoint) instead of O(log length), with NO
    * data movement — unlike [[casReplace]], nothing is rewritten, so
    * a checkpoint is metadata-cheap at any table size. Published by
    * the same CAS as every commit: a concurrent append between the
    * snapshot read and the CAS makes the checkpoint retry, so it can
    * never swallow a commit it did not include.
    */
  def casCheckpoint(table: String, retries: Int = 8): Int = {
    var attempt = 0
    while (attempt < retries) {
      val head = casHead(table)
      val active = casActiveCmds(table)
      // the TXN summary rides every checkpoint so the BATCH-DEDUP
      // path gets the same O(commits since checkpoint) bound as the
      // read path: ADDB history older than the checkpoint survives as
      // one line per stream (sound because batch ids are monotone per
      // stream — the Delta txn-action discipline)
      val txn = casTxnState(table).toSeq.sortBy(_._1)
        .map { case (s, b) => s"TXN $s $b" }
      // subscriber registrations get the same restatement (SUBCK
      // marks "fully restated here" — the backward consult stops at
      // it), so a registration survives [[casTruncate]] retiring the
      // commit that carried it
      val subs = "SUBCK" +: casSubscribers(table).toSeq.sortBy(_._1)
        .map { case (s, (p, r)) => s"SUB $s $p $r" }
      if (casTryCommit(table, head + 1,
        "CKPT" +: (txn ++ subs ++ active)))
        return head + 1
      attempt += 1
    }
    throw new CommitConflict(
      s"casCheckpoint($table): lost $retries CAS races")
  }

  // ADD <path> | ADDS <min|-> <max|-> <path> |
  // ADDB <stream> <batchId> <path> | ADDE <path> (schema-evolved) |
  // ADDES <min|-> <max|-> <path> (stats-carrying evolved add — a
  //   retained REPLACEE demoted without losing its extent) |
  // REPLACE <path> | REPLACES <min|-> <max|-> <path> |
  // REPLACEE <min|-> <max|-> <path> (stats-carrying replace whose
  //   snapshot still spans evolved schemas — [[casDeleteWhere]] on a
  //   table with active ADDE commits) |
  // DEL <keyCol> <path> (merge-on-read equality-delete tombstone)
  private def casCmdPath(cmd: String): String =
    if (cmd.startsWith("ADDS ") || cmd.startsWith("ADDB ") ||
      cmd.startsWith("ADDES ") || cmd.startsWith("REPLACES ") ||
      cmd.startsWith("REPLACEE "))
      cmd.split(" ", 4)(3)
    else if (cmd.startsWith("DEL "))
      cmd.split(" ", 3)(2)
    else cmd.split(" ", 2)(1)

  private def casIsDel(cmd: String): Boolean = cmd.startsWith("DEL ")

  // lines whose snapshot may span files of different (compatible)
  // schemas — the reader must merge footers instead of trusting one
  private def casIsEvolved(cmd: String): Boolean =
    cmd.startsWith("ADDE ") || cmd.startsWith("ADDES ") ||
      cmd.startsWith("REPLACEE ")

  // lines carrying a [min, max] extent at positions 1/2 — the commit-
  // grain skip structure every pruning consult reads
  private def casHasStats(l: String): Boolean =
    l.startsWith("ADDS ") || l.startsWith("ADDES ") ||
      l.startsWith("REPLACES ") || l.startsWith("REPLACEE ")

  // the recorded extent, None when the line carries none (stat-less
  // verb, or a `-` bound from an empty/null-keyed wave)
  private def casExtent(l: String): Option[(Long, Long)] =
    if (!casHasStats(l)) None
    else {
      val p = l.split(" ", 4)
      if (p(1) == "-" || p(2) == "-") None
      else Some((p(1).toLong, p(2).toLong))
    }

  // a retained-by-reference replace line demotes to its add form:
  // the new commit carries exactly ONE replace line (the stop line,
  // naming the rewrite), and the demotion keeps what matters —
  // REPLACES keeps its stats as ADDS, REPLACEE keeps BOTH the
  // evolved flag and its stats as ADDES (losing the extent would
  // make every later delete/range consult conservatively rewrite
  // the retained wave)
  private def casDemote(l: String): String =
    if (l.startsWith("REPLACES ")) "ADDS " + l.stripPrefix("REPLACES ")
    else if (l.startsWith("REPLACEE "))
      "ADDES " + l.stripPrefix("REPLACEE ")
    else l

  private def casIsReplace(cmd: String): Boolean =
    cmd.startsWith("REPLACE ") || cmd.startsWith("REPLACES ") ||
      cmd.startsWith("REPLACEE ")

  /** Resolve a set of active commit lines to a DataFrame — the one
    * place the line VERBS acquire read semantics, shared by
    * [[casRead]], [[casReadAt]] (and through it [[catRead]]) and
    * [[casReadPruned]]:
    *
    *  - data lines (ADD/ADDS/ADDB/ADDE/REPLACE/REPLACES) union;
    *  - any active ADDE line turns on `mergeSchema` — the snapshot
    *    spans files written under different (compatible) schemas, and
    *    the default first-footer read would silently drop the evolved
    *    columns (Delta's schema-evolution read path);
    *  - DEL lines ([[casDeleteMoR]]) anti-join their tombstone keys
    *    out, grouped by key column — Iceberg's equality-delete files.
    *    Tombstones are forget-list grain (bounded, broadcast); a
    *    delete too large to broadcast belongs on the copy-on-write
    *    path ([[casDeleteWhere]]) or behind [[casCompactDeletes]].
    *
    * Every path a line names is a write-once UUID directory (a staged
    * wave or tombstone, never rewritten in place), so both reads go
    * through [[SchemaMemo]]: a snapshot's schema is inferred once per
    * session, and a repeated read starts no footer-reading job.
    */
  private def casResolveRead(spark: SparkSession, cmds: Seq[String],
      ctx: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val (dels, datas) = cmds.partition(casIsDel)
    require(datas.nonEmpty, s"$ctx: empty snapshot under $root")
    val base = SchemaMemo.parquet(spark, datas.map(casCmdPath),
      mergeSchema = datas.exists(casIsEvolved))
    dels.groupBy(_.split(" ", 3)(1)).foldLeft(base) {
      case (df, (keyCol, lines)) =>
        val tomb = SchemaMemo.parquet(spark, lines.map(casCmdPath))
          .select(col(keyCol)).distinct()
        df.join(broadcast(tomb), Seq(keyCol), "left_anti")
    }
  }

  /** Snapshot read of a CAS-logged table: replay the log from the
    * last REPLACE commit (or the beginning) and union the named ADD
    * directories ([[casResolveRead]] applies delete tombstones and
    * evolved-schema merging). The log read is driver-side at COMMIT
    * grain (one line per commit — the transaction-log replay every
    * table format performs); data stays distributed.
    */
  def casRead(spark: SparkSession, table: String): DataFrame = {
    val cmds = casActiveCmds(table)
    require(cmds.nonEmpty, s"casRead($table): no commits under $root")
    casResolveRead(spark, cmds, s"casRead($table)")
  }

  /** TIME TRAVEL over the CAS log: the snapshot as of version `v` —
    * replay bounded at `v` instead of head. O(commits in the active
    * window at v) driver file reads, data untouched; versions below a
    * [[casTruncate]] point are gone by an explicit retention decision
    * and fail loudly.
    */
  def casReadAt(spark: SparkSession, table: String, v: Int): DataFrame = {
    require(v >= 1 && v <= casHead(table),
      s"casReadAt($table, $v): version out of range 1..${casHead(table)}")
    casResolveRead(spark, casActiveCmdsAt(table, v),
      s"casReadAt($table, $v)")
  }

  // largest version in [1, head] whose recorded TS is ≤ ts — binary
  // search over the monotone timeline [[tryCommitIn]] clamps
  // (O(log commits) driver file reads, data untouched: Delta's
  // `TIMESTAMP AS OF` resolution). A MISSING probe (a commit
  // [[casTruncate]]/[[catTruncate]] retired) orders as -∞ — it
  // predates everything alive — and so does a legacy commit written
  // before timestamps existed; resolving ONTO a retired commit fails
  // loudly, the same retention contract as version time travel.
  private def versionAsOfIn(logDir: File, head: Int, ts: Long,
      ctx: String): Int = {
    require(head >= 1, s"$ctx: empty log")
    def tsOf(n: Int): Option[Long] = {
      val f = new File(logDir, f"$n%09d.commit")
      if (!f.exists()) None
      else readLines(f).headOption.filter(_.startsWith("TS "))
        .flatMap(_.stripPrefix("TS ").toLongOption)
    }
    var lo = 1
    var hi = head
    var best = 0
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (tsOf(mid).forall(_ <= ts)) { best = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (best == 0)
      sys.error(s"$ctx: no commit at or before timestamp $ts")
    if (!new File(logDir, f"$best%09d.commit").exists())
      sys.error(s"$ctx: the snapshot at-or-before $ts was retired " +
        "by retention — unreadable")
    best
  }

  /** The table version a wall-clock instant resolves to — the latest
    * commit whose `TS` is at or before `ts`.
    */
  def casVersionAsOf(table: String, ts: Long): Int =
    versionAsOfIn(casLogDir(table), casHead(table), ts,
      s"casVersionAsOf($table, $ts)")

  /** TIMESTAMP TIME TRAVEL — [[casReadAt]] addressed by the injected
    * clock instead of a version number (`SELECT … TIMESTAMP AS OF`):
    * resolve by binary search over the commit timestamps, then replay
    * the resolved version's window. A `ts` below the table's first
    * live commit, or resolving into a [[casTruncate]]-retired window,
    * fails loudly — retention decisions stay visible, never silent.
    */
  def casReadAsOf(spark: SparkSession, table: String,
      ts: Long): DataFrame =
    casReadAt(spark, table, casVersionAsOf(table, ts))

  /** The [lo, hi] extent a commit line records for a staged wave on
    * `c`, as line tokens. `-` bounds when the wave is empty OR any
    * row's key is NULL / fails the long cast: min/max are blind to
    * such rows, and an extent that hides them would let
    * [[casDeleteRange]]'s whole-drop fast path physically delete
    * NULL-keyed rows no range ever selects. A `-` wave is handled
    * conservatively everywhere (kept by pruned reads, rewritten —
    * null-safely — by deletes), so correctness never rests on the
    * extent; NOT-NULL keys, the normal case, keep full skipping.
    */
  private def casStatsOf(staged: DataFrame, c: String): (String, String) = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val k = col(c).cast("long")
    val r = staged.agg(min(k), max(k), count(lit(1)), count(k)).head()
    if (r.isNullAt(0) || r.isNullAt(1) || r.getLong(2) != r.getLong(3))
      ("-", "-")
    else (r.getLong(0).toString, r.getLong(1).toString)
  }

  /** CAS append WITH COMMIT-TIME STATISTICS — [[casAppend]] composed
    * with the manifest tier at COMMIT grain: the commit line carries
    * the staged wave's [min, max] extent on `c` (one aggregate over
    * the wave BEFORE the CAS — O(wave), the cost every format pays to
    * put stats in its commit), so [[casReadPruned]] can skip whole
    * COMMITS during log replay with no separate manifest structure.
    * The stats stay correct under concurrent writers by construction:
    * they describe only this commit's own files, and the CAS decides
    * ordering. A wave carrying any NULL (or uncastable) key records
    * `-` extents and is kept conservatively by every consult
    * ([[casStatsOf]]).
    */
  def casAppendStats(spark: SparkSession, df: DataFrame, table: String,
      c: String, retries: Int = 8,
      beforeCommit: () => Unit = () => ()): Int = {
    val staged = new File(new File(dir(table + "__data")),
      java.util.UUID.randomUUID().toString)
    df.write.mode("errorifexists").parquet(staged.getPath)
    // stats from the staged files (what readers will see), not the
    // possibly-nondeterministic input plan
    val (lo, hi) = casStatsOf(spark.read.parquet(staged.getPath), c)
    var attempt = 0
    while (attempt < retries) {
      val n = casHead(table) + 1
      beforeCommit()
      if (casTryCommit(table, n,
        Seq(s"ADDS $lo $hi ${staged.getPath}"))) {
        casMaybeVacuum(table, n)
        return n
      }
      attempt += 1
    }
    throw new CommitConflict(
      s"casAppendStats($table): lost $retries CAS races")
  }

  /** Commit-grain pruning consult: the active commits whose recorded
    * extent on the stats column overlaps [lo, hi]. Commits without
    * stats (plain ADD, REPLACE) and `-` extents are kept
    * conservatively. Returns (kept paths, active commits total) —
    * the skip evidence the spec pins.
    */
  def casPrunedCommits(table: String, lo: Long,
      hi: Long): (Seq[String], Int) =
    casPruneLines(casActiveCmds(table), lo, hi)

  /** [[casPrunedCommits]] over the snapshot AT version `v` — the
    * skip-evidence consult for pruned TIME-TRAVEL reads
    * ([[casReadPrunedAt]], the delta-join maintainer's big-side
    * read).
    */
  def casPrunedCommitsAt(table: String, lo: Long, hi: Long,
      v: Int): (Seq[String], Int) =
    casPruneLines(casActiveCmdsAt(table, v), lo, hi)

  // the pure pruning fold over ONE set of active lines — shared by
  // the public consult above and [[casReadPruned]], which must derive
  // both the kept data lines and the riding DEL lines from a SINGLE
  // log snapshot (two independent listings can straddle a concurrent
  // rewrite commit and intersect to a silent subset)
  private def casPruneLines(active: Seq[String], lo: Long,
      hi: Long): (Seq[String], Int) = {
    // DEL tombstones are not data: they carry no extent and are never
    // candidates for the union read — counts here are DATA lines only
    val datas = active.filterNot(casIsDel)
    val kept = datas.filter { cmd =>
      // stats-carrying lines (ADDS/ADDES/REPLACES/REPLACEE) prune;
      // everything else (plain ADD, stat-less REPLACE, ADDB, ADDE) is
      // kept conservatively, as is a `-` extent
      !casHasStats(cmd) || casExtent(cmd).forall {
        case (mn, mx) => mn <= hi && mx >= lo
      }
    }.map(casCmdPath)
    (kept, datas.size)
  }

  /** Range read over a CAS-logged table through the commit-grain
    * stats: open ONLY commits whose extent overlaps, then apply the
    * exact predicate — [[readPruned]]'s two-level discipline with the
    * transaction log itself as the skip structure.
    */
  def casReadPruned(spark: SparkSession, table: String, c: String,
      lo: Long, hi: Long): DataFrame =
    casReadPrunedLines(spark, table, c, lo, hi, casActiveCmds(table))

  /** [[casReadPruned]] over the snapshot AT version `v` — pruned
    * time travel: open only the commits whose extent overlaps
    * [lo, hi] in the HISTORICAL active set. What lets an incremental
    * maintainer join a tiny delta against a petabyte side by opening
    * only the extent-hit waves of the version its window pins
    * ([[graft.ops.CasIvm.maintainJoin]]).
    */
  def casReadPrunedAt(spark: SparkSession, table: String, c: String,
      lo: Long, hi: Long, v: Int): DataFrame =
    casReadPrunedLines(spark, table, c, lo, hi,
      casActiveCmdsAt(table, v))

  /** MULTI-RANGE pruned time-travel read — [[casReadPrunedAt]] over
    * a UNION of key ranges, with the skip evidence returned: open
    * only the commits whose extent on `c` overlaps ANY of `ranges`
    * (stat-less lines and `-` extents kept conservatively), apply the
    * exact disjunction, and report (kept data waves, total data
    * waves). The consult a GROUP-CLUSTERED layout turns into
    * wave-bounded group rescans: when a table's extent column is a
    * composite (group-prefixed) key — [[casClusterBy]] on it, or
    * appends arriving group-contiguous — each group's rows live in a
    * contiguous key range, so a k-group rescan opens only those
    * groups' waves ([[graft.ops.CasIvm.maintainMinMax]]'s
    * `clusteredBy` path).
    */
  def casReadPrunedRangesAt(spark: SparkSession, table: String,
      c: String, ranges: Seq[(Long, Long)],
      v: Int): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit}
    require(ranges.nonEmpty,
      s"casReadPrunedRangesAt($table): empty range set")
    val active = casActiveCmdsAt(table, v)
    val (dels, datas) = active.partition(casIsDel)
    val kept = datas.filter { l =>
      !casHasStats(l) || casExtent(l).forall { case (mn, mx) =>
        ranges.exists { case (lo, hi) => mn <= hi && mx >= lo }
      }
    }
    val base =
      if (kept.isEmpty)
        // no wave can hold a row in any range: an empty frame (the
        // snapshot resolve is only paid on this rare edge)
        casReadAt(spark, table, v).filter(lit(false))
      else casResolveRead(spark, kept ++ dels,
        s"casReadPrunedRangesAt($table)")
    val pred = ranges.map { case (lo, hi) =>
      col(c).cast("long").between(lo, hi) }.reduce(_ || _)
    (base.filter(pred), kept.size, datas.size)
  }

  private def casReadPrunedLines(spark: SparkSession, table: String,
      c: String, lo: Long, hi: Long,
      active: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // ONE log snapshot feeds both the pruning fold and the DEL
    // re-attach below — a second independent listing could disagree
    // with this one across a concurrent rewrite and silently drop
    // the rewrite's lines from the intersection
    val (paths, _) = casPruneLines(active, lo, hi)
    // re-attach the active DEL lines: a pruned read must not
    // resurrect tombstoned rows that happen to fall inside [lo, hi]
    val keptLines = active.filter(l =>
      casIsDel(l) || paths.contains(casCmdPath(l)))
    val base =
      if (!keptLines.exists(l => !casIsDel(l)))
        casRead(spark, table).filter(lit(false))
      else casResolveRead(spark, keptLines, s"casReadPruned($table)")
    base.filter(col(c).cast("long").between(lo, hi))
  }

  // ---- row-level deletes (right-to-be-forgotten) -------------------

  /** COPY-ON-WRITE ROW DELETE with commit-grain skipping — the
    * GDPR/right-to-be-forgotten pass a training-data warehouse runs
    * when documents are opted out: physically remove every row whose
    * key column `c` is in `keys`, rewriting ONLY the commits whose
    * recorded [min, max] extent can contain a forget key. Commits
    * provably disjoint from every key are RETAINED BY REFERENCE —
    * their line rides into the new commit verbatim (stats and all, so
    * later range reads keep skipping), their directories are never
    * opened, never copied. This is Delta/Iceberg `DELETE WHERE` with
    * file skipping, at this log's commit grain.
    *
    * The new commit is one multi-line CAS publish: a stats-carrying
    * REPLACES (or REPLACEE when the snapshot spans evolved schemas)
    * naming the rewritten remainder, plus the retained lines. The
    * backward replay stops at it (it contains a replace line), so the
    * snapshot is exactly retained ∪ rewritten. Retained REPLACES
    * lines demote to ADDS (same path, same stats — "kept by
    * reference"); active DEL tombstones ride along verbatim and keep
    * applying (idempotent on the rewritten part). OCC contract as
    * everywhere: a lost CAS recomputes against the new head.
    *
    * `deletedRows` counts physical rows removed from the rewritten
    * commits (rows already hidden by a MoR tombstone are still
    * physical until [[casCompactDeletes]]).
    *
    * 100 TB shape: cost is O(rewritten commits' data) + one tiny
    * commit file — a forget-set that touches 3 of 10,000 waves
    * rewrites 3. The driver side is O(active commits) string work; no
    * data ever moves for retained commits. A delete on a table whose
    * commits carry no stats degrades honestly to a full rewrite
    * (every line is conservatively "affected"), which is what every
    * format without file stats pays.
    */
  def casDeleteWhere(spark: SparkSession, table: String, c: String,
      keys: Seq[Long], retries: Int = 8,
      beforeCommit: () => Unit = () => ()): CasDeleteStats = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(keys.nonEmpty, s"casDeleteWhere($table): empty forget-set")
    // NULL-SAFE classification: a row whose key is NULL (or fails the
    // long comparison) is NOT in the forget-set and must be RETAINED —
    // three-valued `!isin` evaluates to NULL on it and a plain filter
    // would silently drop it from the rewrite (data loss beyond the
    // requested keys). Same retention the keyed form's left_anti join
    // gives; Round17Spec pins the parity.
    val inSet = coalesce(col(c).isin(keys: _*), lit(false))
    casDeleteCow(spark, table, c, retries, beforeCommit,
      disjoint = (mn, mx) => keys.forall(k => k < mn || k > mx),
      remainOf = hit => (hit.filter(!inSet), hit.filter(inSet).count()))
  }

  /** [[casDeleteWhere]] with a DISTRIBUTED forget-set — the bulk
    * erasure path (a whole tenant, millions of opted-out users):
    * a driver `Seq` + `isin` caps out at plan-size limits around
    * 10^5 keys, so here the keys stay a DataFrame end to end. The
    * commit-extent classification becomes ONE distributed pass —
    * the tiny extent table (one row per active commit) broadcasts
    * against the keys, surviving extent ids collect (bounded by the
    * commit count, never the key count) — and the rewrite removes
    * matches with a key-grain anti-join instead of an `isin`
    * literal. Same commit shape, OCC retry, and evidence as the
    * Seq form; RowDeleteSpec pins both forms classify and delete
    * identically.
    */
  def casDeleteWhereKeys(spark: SparkSession, table: String, c: String,
      keys: DataFrame, retries: Int = 8,
      beforeCommit: () => Unit = () => ()): CasDeleteStats = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    val k = keys.select(col(keys.columns.head).cast("long").as("__k"))
      .distinct()
    casDeleteCow(spark, table, c, retries, beforeCommit,
      disjointAll = { exts =>
        if (exts.isEmpty) Set.empty[Int]
        else {
          val extDf = exts.map { case (i, mn, mx) => (i, mn, mx) }
            .toDF("__eid", "__mn", "__mx")
          // keys × extents: extents are commit-count rows, broadcast;
          // the hit set collects at extent grain, never key grain
          k.join(broadcast(extDf),
              col("__k").between(col("__mn"), col("__mx")))
            .select("__eid").distinct().as[Int].collect().toSet
        }
      },
      remainOf = hit => {
        val deleted = hit.join(k, hit(c).cast("long") === col("__k"),
          "left_semi").count()
        (hit.join(k, hit(c).cast("long") === col("__k"), "left_anti"),
          deleted)
      })
  }

  /** COPY-ON-WRITE ROW UPDATE — `UPDATE t SET … WHERE c IN keys`,
    * completing the multi-writer DML triangle on exactly
    * [[casDeleteWhere]]'s extent-classification core: commits whose
    * recorded [min, max] extent can contain an update key are
    * rewritten with the SET clauses applied to matching rows; commits
    * provably disjoint from every key are RETAINED BY REFERENCE —
    * never opened, never copied, their lines (stats and all) ride
    * into the new commit. Same single multi-line publish
    * (REPLACES/REPLACEE naming the rewrite + demoted retained lines +
    * riding DEL tombstones), same OCC retry contract, REPLACEE when
    * the snapshot spans evolved schemas. NULL-keyed rows never match
    * (`IN` semantics) and are retained unchanged — the null-safe
    * discipline the delete forms pin.
    *
    * `set` maps column name → replacement expression, evaluated over
    * the matched row (`col("v") * 2` works); every named column must
    * already exist — UPDATE is not schema evolution. The key column
    * itself may be updated: the rewrite's extent is recomputed from
    * the staged output, so later consults stay sound.
    *
    * 100 TB shape: identical to the CoW delete — O(hit commits' data)
    * + one tiny commit file; an update touching 3 of 10,000 waves
    * rewrites 3. This is what makes catalog-tier SCD-style merges
    * touch only changed extents instead of the whole table.
    */
  def casUpdateWhere(spark: SparkSession, table: String, c: String,
      keys: Seq[Long], set: Map[String, Column], retries: Int = 8,
      beforeCommit: () => Unit = () => ()): CasUpdateStats = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(keys.nonEmpty, s"casUpdateWhere($table): empty key set")
    require(set.nonEmpty, s"casUpdateWhere($table): empty SET clause")
    val hitK = coalesce(col(c).isin(keys: _*), lit(false))
    val st = casDeleteCow(spark, table, c, retries, beforeCommit,
      disjoint = (mn, mx) => keys.forall(k => k < mn || k > mx),
      remainOf = hit => {
        set.keys.foreach(k => require(hit.columns.contains(k),
          s"casUpdateWhere($table): SET names absent column $k"))
        val updated = hit.select(hit.columns.toSeq.map { cn =>
          set.get(cn) match {
            case Some(e) => when(hitK, e).otherwise(col(cn)).as(cn)
            case None => col(cn)
          }
        }: _*)
        (updated, hit.filter(hitK).count())
      },
      ctx = "casUpdateWhere")
    CasUpdateStats(st.version, st.rewrittenCommits,
      st.retainedCommits, st.deletedRows)
  }

  /** MULTI-WRITER MERGE — `MERGE INTO t USING src ON t.c = src.c
    * WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`,
    * the whole-row upsert every SCD1 dimension load is, completing
    * the CAS tier's DML surface (insert [[casAppend]] / delete
    * [[casDeleteWhere]] / update [[casUpdateWhere]] / upsert HERE) in
    * ONE commit. Classification is [[casDeleteWhereKeys]]'s
    * distributed pass: the tiny extent table (one row per active
    * commit) broadcasts against the source keys, so a wave provably
    * disjoint from every source key is RETAINED BY REFERENCE — never
    * opened, its stats riding. Affected waves rewrite with each
    * matched target row replaced IN PLACE by its source row's values
    * (per-row, so duplicate target keys keep their multiplicity —
    * ANSI MERGE's UPDATE semantics, not a dedup); unmatched source
    * rows land as a SEPARATE stats-carrying insert wave in the same
    * commit, keeping the (usually new-key-range) insert extent tight
    * instead of widening the rewrite's. NULL-keyed target rows never
    * match and are retained unchanged; NULL-keyed source rows never
    * match and INSERT (the ON clause's three-valued equality).
    * Duplicate source keys are rejected up front — two source rows
    * updating one target row is the ambiguity ANSI MERGE errors on.
    * Active MoR tombstones ([[casDeleteMoR]]) ride the commit and
    * keep winning BY KEY until [[casCompactDeletes]]: merging a
    * tombstoned key updates/inserts its physical rows but they stay
    * logically deleted — compact first when resurrection is intended
    * (same tombstone-wins discipline as the other CoW forms).
    *
    * 100 TB shape: O(hit waves' data + source) + one commit file. A
    * daily dimension merge whose changed keys cluster in 3 of 10,000
    * waves rewrites 3 and appends 1 — the device that makes
    * catalog-tier SCD1 O(changed), not O(dimension).
    */
  def casMergeInto(spark: SparkSession, table: String, c: String,
      source: DataFrame, retries: Int = 8,
      beforeCommit: () => Unit = () => ()): CasMergeStats =
    casMergeImpl(spark, table, c, source, retries, beforeCommit, None)
      .getOrElse(sys.error(s"casMergeInto($table): unreachable — " +
        "dedup applies only to the batch form"))

  /** EXACTLY-ONCE streaming MERGE — [[casMergeInto]] carrying a
    * (stream, batchId) TXN marker on its commit, so a REPLAYED
    * micro-batch (engine redelivery after recovery) finds its id in
    * the log and returns None without re-merging. The marker matters
    * more for MERGE than for append: a replayed merge is idempotent
    * against its OWN result, but a replay landing AFTER a concurrent
    * writer touched the same keys would silently roll their rows
    * back to the batch's stale values — the dedup closes that
    * window. Same linearizable check-then-CAS as [[casAppendBatch]]
    * (head first, check bounded below head+1, CAS targets head+1);
    * the TXN line is a per-stream summary claim ("batches <= id are
    * in"), sound because Structured Streaming delivers each sink's
    * batches in order, and it rides checkpoints via the same
    * [[casTxnState]] fold as ADDB history.
    */
  def casMergeBatch(spark: SparkSession, table: String, c: String,
      source: DataFrame, stream: String, batchId: Long,
      retries: Int = 8,
      beforeCommit: () => Unit = () => (),
      fence: Option[Long] = None): Option[CasMergeStats] = {
    if (casCommittedBatch(table, stream, batchId)) return None
    casMergeImpl(spark, table, c, source, retries, beforeCommit,
      Some((stream, batchId)), fence)
  }

  private def casMergeImpl(spark: SparkSession, table: String,
      c: String, source: DataFrame, retries: Int,
      beforeCommit: () => Unit,
      txn: Option[(String, Long)],
      fence: Option[Long] = None): Option[CasMergeStats] = {
    import org.apache.spark.sql.functions.{broadcast, col, count,
      countDistinct, lit, when}
    import spark.implicits._
    val txnLines = txn.map { case (s, b) => s"TXN $s $b" }.toSeq
    val cols = casRead(spark, table).columns.toSeq
    require(source.columns.toSet == cols.toSet,
      s"casMergeInto($table): source columns " +
        s"${source.columns.toSet} differ from table's ${cols.toSet}")
    val src = source.select(cols.map(col): _*).persist()
    try {
      val prof = src.agg(count(lit(1)), count(col(c)),
        countDistinct(col(c)), count(col(c).cast("long"))).head()
      require(prof.getLong(1) == prof.getLong(2),
        s"casMergeInto($table): duplicate source keys on $c — " +
          "ANSI MERGE ambiguity, dedup the source first")
      // the ON equality runs over cast(long): a non-null source key
      // that fails the cast would never match anything and silently
      // re-INSERT rows it meant to update — reject it loudly
      require(prof.getLong(1) == prof.getLong(3),
        s"casMergeInto($table): source keys on $c must be " +
          "long-castable (extent classification and the ON equality " +
          "run over cast(long))")
      if (prof.getLong(0) == 0L)
        return Some(CasMergeStats(casHead(table), 0,
          casActiveCmds(table).count(l => !casIsDel(l)), 0L, 0L))
      val k = src.select(col(c).cast("long").as("__k"))
        .filter(col("__k").isNotNull).distinct()
      var attempt = 0
      while (attempt < retries) {
        val head = casHead(table)
        // the authoritative dedup check, bounded below the CAS
        // target — any commit racing in between occupies head+1,
        // fails our CAS, and the retry re-checks over it
        if (txn.exists { case (s, b) =>
          casCommittedBatchBelow(table, s, b, head + 1) })
          return None
        // the maintainer fence: a competitor moved the stream cursor
        // (possibly over a DIFFERENT window) — overlapping additive
        // merges double-count, so the caller must re-read the cursor
        // and re-derive, not land
        if (fence.exists(f => txn.exists { case (s, _) =>
          !casFenceHolds(table, s, f, head + 1) }))
          return None
        val cmds = casActiveCmdsAt(table, head)
        val (dels, datas) = cmds.partition(casIsDel)
        val exts = datas.zipWithIndex.flatMap { case (cmd, i) =>
          casExtent(cmd).map { case (mn, mx) => (i, mn, mx) }
        }
        // keys x extents: extents are commit-count rows, broadcast;
        // hit ids collect at extent grain, never key grain
        val hitIds: Set[Int] =
          if (exts.isEmpty) Set.empty[Int]
          else k.join(broadcast(exts.toDF("__eid", "__mn", "__mx")),
              col("__k").between(col("__mn"), col("__mx")))
            .select("__eid").distinct().as[Int].collect().toSet
        val extIds = exts.map(_._1).toSet
        val (retainedIdx, affectedIdx) = datas.indices.partition(i =>
          extIds(i) && !hitIds(i))
        val retained = retainedIdx.map(datas)
        val affected = affectedIdx.map(datas)
        val evolved = datas.exists(casIsEvolved)
        val dataDir = new File(dir(table + "__data"))
        val insName = java.util.UUID.randomUUID().toString

        if (affected.isEmpty) {
          // every wave is provably key-disjoint: the whole source is
          // an insert, landing as ONE delta ADDS commit (retained
          // lines and tombstones keep riding implicitly)
          val staged = new File(dataDir, insName)
          src.write.mode("errorifexists").parquet(staged.getPath)
          val (lo, hi) = casStatsOf(spark.read.parquet(staged.getPath), c)
          val n = spark.read.parquet(staged.getPath).count()
          val verb = if (evolved) "ADDES" else "ADDS"
          beforeCommit()
          if (casTryCommit(table, head + 1,
            s"$verb $lo $hi ${staged.getPath}" +: txnLines)) {
            casMaybeVacuum(table, head + 1)
            return Some(CasMergeStats(head + 1, 0, retained.size,
              0L, n))
          }
          delete(staged)
        } else {
          val hit = casResolveRead(spark, affected,
            s"casMergeInto($table)")
          // per-row matched update: LEFT JOIN the source on the key
          // and take the source's value column-wise — multiplicity
          // preserved, NULL keys never match
          val s2 = src.select(
            (cols.map(cn => col(cn).as("__s_" + cn)) :+
              col(c).cast("long").as("__sk")): _*)
          // no broadcast hint on the source: a daily delta broadcasts
          // via AQE's size rule, a bulk backfill shuffles — both
          // correct without hand-picking
          val joined = hit.withColumn("__tk", col(c).cast("long"))
            .join(s2, col("__tk") === col("__sk"), "left")
          val matchedT = col("__sk").isNotNull
          val rewrite = joined.select(hit.columns.toSeq.map(cn =>
            when(matchedT, col("__s_" + cn)).otherwise(col(cn))
              .as(cn)): _*)
          val updatedRows = joined.filter(matchedT).count()
          // unmatched source rows insert; matched ones were consumed
          // by the rewrite above
          val hitKeys = hit.select(col(c).cast("long").as("__hk"))
            .filter(col("__hk").isNotNull).distinct()
          val insert = src.join(hitKeys,
            col(c).cast("long") === col("__hk"), "left_anti")
          val stagedR = new File(dataDir,
            java.util.UUID.randomUUID().toString)
          rewrite.write.mode("errorifexists").parquet(stagedR.getPath)
          val (rlo, rhi) =
            casStatsOf(spark.read.parquet(stagedR.getPath), c)
          val rVerb = if (evolved) "REPLACEE" else "REPLACES"
          val stagedI = new File(dataDir, insName)
          insert.write.mode("errorifexists").parquet(stagedI.getPath)
          val insN = spark.read.parquet(stagedI.getPath).count()
          val insLine =
            if (insN == 0L) { delete(stagedI); Nil }
            else {
              val (ilo, ihi) =
                casStatsOf(spark.read.parquet(stagedI.getPath), c)
              val iVerb = if (evolved) "ADDES" else "ADDS"
              Seq(s"$iVerb $ilo $ihi ${stagedI.getPath}")
            }
          beforeCommit()
          if (casTryCommit(table, head + 1,
            s"$rVerb $rlo $rhi ${stagedR.getPath}" +:
              (insLine ++ retained.map(casDemote) ++ dels ++
                txnLines))) {
            casMaybeVacuum(table, head + 1)
            return Some(CasMergeStats(head + 1, affected.size,
              retained.size, updatedRows, insN))
          }
          delete(stagedR)
          if (insLine.nonEmpty) delete(stagedI)
        }
        attempt += 1
      }
      throw new CommitConflict(
        s"casMergeInto($table): lost $retries CAS races")
    } finally {
      src.unpersist()
      ()
    }
  }

  /** INCREMENTAL TAIL-READ — the O(delta) consumption device a
    * downstream pipeline needs to follow a CAS table without
    * rescanning it (Iceberg's incremental scan / Delta CDF over an
    * append window): `Some(df)` holding EXACTLY the rows appended in
    * commits (fromV, head] when that window is append-only, `None`
    * when any commit in the window changed or removed existing rows
    * (REPLACE-class rewrites — deletes, updates, merges, compaction,
    * clustering — or MoR tombstones), in which case the caller must
    * re-derive from a snapshot read; silently unioning appends
    * across a rewrite would double-count or resurrect rows.
    *
    * CKPT commits need the one subtle case split: a log CHECKPOINT
    * restates the active lines verbatim (content-neutral — skipped),
    * but a RESTORE is also published as a CKPT-stopped commit and
    * DOES change content — the two are told apart by comparing the
    * commit's restated active set against the previous version's
    * (driver-side line-set compare, no data touched). TXN-marker
    * and other pure-metadata commits are content-neutral by
    * construction and skipped.
    *
    * 100 TB shape: the consult is O(commits in the window) driver
    * file reads and the returned frame scans ONLY the appended
    * waves — following a table costs the data that arrived, never
    * the table. Pair the returned head with the next call's `fromV`.
    */
  def casChangesSince(spark: SparkSession, table: String,
      fromV: Int): (Option[DataFrame], Int) = {
    val head = casHead(table)
    require(fromV >= 0 && fromV <= head,
      s"casChangesSince($table, $fromV): cursor out of range 0..$head")
    if (fromV == head) return (Some(casRead(spark, table).limit(0)), head)
    var appended = List.empty[String]
    var n = fromV + 1
    while (n <= head) {
      val f = casCommitFile(table, n)
      if (!f.exists())
        sys.error(s"casChangesSince($table): commit $n was retired " +
          "by retention — window unreadable, re-derive from a " +
          "snapshot read")
      val ls = readLines(f).filterNot(_.startsWith("TS "))
      if (ls.contains("CKPT")) {
        // checkpoint (content-neutral, skip) vs restore (content
        // change): compare the restated active set to the previous
        // version's
        if (casActiveCmdsAt(table, n).toSet !=
          casActiveCmdsAt(table, n - 1).toSet)
          return (None, head)
      } else if (ls.exists(l => casIsReplace(l) || casIsDel(l))) {
        return (None, head)
      } else {
        appended = appended ++ ls.filterNot(casIsMeta)
      }
      n += 1
    }
    if (appended.isEmpty)
      (Some(casRead(spark, table).limit(0)), head)
    else {
      // a tombstone published BEFORE the cursor is still active at
      // head: an append in the window that re-uses a tombstoned key
      // is INVISIBLE to every snapshot reader, and the tail-read
      // must agree — resolve the appends against the head's active
      // DEL set (a NEW tombstone in the window already forced the
      // refresh signal above, so these are all pre-cursor)
      val activeDels = casActiveCmdsAt(table, head).filter(casIsDel)
      (Some(casResolveRead(spark, appended ++ activeDels,
        s"casChangesSince($table)")), head)
    }
  }

  // the CDF walk: per-commit read plan + the tombstone sets each
  // side must be resolved under, as ONE log pass shared by the plan,
  // frame, and typed-feed consults (so none of them can ever
  // disagree). Right(None) = the window is not row-level diffable (a
  // restore — it can resurrect arbitrary history; schema evolution
  // meeting a rewrite — the two diff sides would not align).
  // Left(reason) = retention retired a commit inside the window: the
  // typed feed degrades the caller to a snapshot recompute, the
  // legacy entry points raise. Driver-only: O(window commits) file
  // reads, no data.
  private def casCdfWalk(table: String, fromV: Int): (Either[String,
      Option[Seq[(CasCdfStep, Seq[String], Seq[String])]]], Int) = {
    val head = casHead(table)
    require(fromV >= 0 && fromV <= head,
      s"casCdfPlan($table, $fromV): cursor out of range 0..$head")
    var steps = List.empty[(CasCdfStep, Seq[String], Seq[String])]
    var evolvedSeen = false
    var rewriteSeen = false
    var n = fromV + 1
    while (n <= head) {
      val f = casCommitFile(table, n)
      if (!f.exists())
        return (Left(s"casCdfPlan($table): commit $n was retired " +
          "by retention — window unreadable, re-derive from a " +
          "snapshot"), head)
      val ls = readLines(f).filterNot(_.startsWith("TS "))
      if (ls.contains("CKPT")) {
        // checkpoint = content-neutral restatement; restore = CKPT
        // verb with a content CHANGE — refresh, it can resurrect
        // history no wave-grain diff can account for
        if (casActiveCmdsAt(table, n).toSet !=
          casActiveCmdsAt(table, n - 1).toSet)
          return (Right(None), head)
      } else if (ls.exists(casIsReplace)) {
        val prev = casActiveCmdsAt(table, n - 1)
        val cur = casActiveCmdsAt(table, n)
        val prevDel = prev.filter(casIsDel)
        val curDel = cur.filter(casIsDel)
        // a rewrite may DROP tombstones (compaction folded them —
        // their matches are physically gone from every rewritten
        // wave) but never ADD one: a new tombstone hides rows in
        // waves this commit does not name
        if ((curDel.toSet -- prevDel.toSet).nonEmpty)
          return (Right(None), head)
        val prevPaths = prev.filterNot(casIsDel).map(casCmdPath).toSet
        val curPaths = cur.filterNot(casIsDel).map(casCmdPath).toSet
        val removed = prev.filterNot(casIsDel)
          .filterNot(l => curPaths(casCmdPath(l)))
        val added = cur.filterNot(casIsDel)
          .filterNot(l => prevPaths(casCmdPath(l)))
        rewriteSeen = true
        evolvedSeen ||= (removed ++ added).exists(casIsEvolved)
        steps = steps :+ ((CasCdfStep(n, removed, added),
          prevDel, curDel))
      } else if (ls.exists(casIsDel)) {
        // a NEW MoR tombstone hides rows in waves the commit never
        // names — but those rows are addressable: the frame builder
        // retracts them with an extent-pruned read of the PRE-commit
        // snapshot semi-joined to the forget keys (forget-set
        // grain). A commit mixing tombstones with data lines is no
        // writer's shape — refresh conservatively if one appears.
        if (ls.exists(l => !casIsMeta(l) && !casIsDel(l)))
          return (Right(None), head)
        val prevDel = casActiveCmdsAt(table, n - 1).filter(casIsDel)
        val newDels = ls.filter(casIsDel)
        steps = steps :+ ((CasCdfStep(n, Nil, Nil, newDels),
          prevDel, prevDel ++ newDels))
      } else {
        val added = ls.filterNot(casIsMeta)
        evolvedSeen ||= added.exists(casIsEvolved)
        if (added.nonEmpty) {
          // a pure append diffs against nothing; it resolves under
          // the tombstones active AT ITS OWN commit (all pre-window
          // — a new one just returned None above)
          val dels = casActiveCmdsAt(table, n).filter(casIsDel)
          steps = steps :+ ((CasCdfStep(n, Nil, added), dels, dels))
        }
      }
      n += 1
    }
    // an evolved wave on either side of a rewrite diff would leave
    // the two exceptAll inputs with different schemas — refresh
    if (evolvedSeen && rewriteSeen) return (Right(None), head)
    (Right(Some(steps)), head)
  }

  /** The read plan of [[casChangesSinceCdf]] — per commit, exactly
    * which waves the feed opens (`removed`/`added`; retained-by-
    * reference waves appear in neither). The wave-grain cost
    * evidence: a CoW delete hitting 1 of 4 extents plans a diff over
    * 1 old wave + its rewritten remainder, never the table.
    */
  def casCdfPlan(table: String,
      fromV: Int): (Option[Seq[CasCdfStep]], Int) = {
    val (w, head) = casCdfWalk(table, fromV)
    (w.fold(sys.error, _.map(_.map(_._1))), head)
  }

  /** RETRACTION-CARRYING CHANGE FEED — Delta CDF / the DBSP shape
    * over this log: the row-level changes of commits (fromV, head]
    * as a frame of the table's columns plus `_sign` (+1 inserted,
    * -1 retracted), readable ACROSS copy-on-write rewrites — a
    * DELETE/UPDATE/MERGE in the window emits the rewritten waves'
    * exact row diff (old⊖new retractions, new⊖old insertions,
    * multiset semantics via exceptAll) instead of
    * [[casChangesSince]]'s whole-window refresh signal. A
    * compaction/cluster rewrite diffs to ZERO rows — layout changes
    * are invisible to the feed, so downstream incremental rollups
    * ride through OPTIMIZE untouched. A new MoR TOMBSTONE is
    * diffable too: its retractions are the pre-commit snapshot's
    * visible rows with a forget key — an extent-pruned read
    * semi-joined to the (forget-set-grain, broadcast) keys, the same
    * cost class as the CoW diff. `None` (re-derive from a snapshot)
    * only for the genuinely non-diffable: a restore, schema
    * evolution meeting a rewrite, a retention-retired window (loud
    * error).
    *
    * Self-inverse consumers (SUM/COUNT — [[graft.ops.CasIvm]])
    * SUBTRACT retractions and stay O(delta) under GDPR deletes;
    * non-invertible ones (MIN/MAX) rescan only the groups whose
    * retractions touch their extremum.
    *
    * 100 TB shape: the consult is O(window commits) driver file
    * reads; the frame scans ONLY waves whose path entered or left
    * the active set — a delete that rewrote 3 of 10,000 waves costs
    * 3 old + 3 new waves, never the table. Old waves must still be
    * on disk (vacuum grace = the feed's retention window — the same
    * contract Delta CDF ships with).
    */
  def casChangesSinceCdf(spark: SparkSession, table: String,
      fromV: Int): (Option[DataFrame], Int) = {
    import org.apache.spark.sql.functions.lit
    val (walk, head) = casCdfWalk(table, fromV)
    walk.fold(sys.error, identity) match {
      case None => (None, head)
      case Some(steps) =>
        val frames = casCdfFrames(spark, table, steps)
        // the union seeds from the WINDOW's own frames; an empty
        // window borrows its schema from ONE active wave's footer
        // (every active wave only when schemas evolved) instead of
        // resolving the whole snapshot — maintainers on the typed
        // [[casCdfFeed]] never even reach this branch (they get
        // [[CasCdfResult.Empty]]). allowMissingColumns mirrors the
        // mergeSchema union an evolved append-only window needs.
        (Some(
          if (frames.isEmpty)
            casEmptySchemaFrame(spark, table)
              .withColumn("_sign", lit(1))
          else frames.reduce(_.unionByName(_, true))), head)
    }
  }

  // schema-only frame for an empty CDF window: one active wave's
  // footer suffices when the snapshot spans a single schema; only an
  // evolved snapshot (or a DEL-only edge) pays the full resolve
  private def casEmptySchemaFrame(spark: SparkSession,
      table: String): DataFrame = {
    val datas = casActiveCmds(table).filterNot(casIsDel)
    if (datas.isEmpty || datas.exists(casIsEvolved))
      casRead(spark, table).limit(0)
    else spark.read.parquet(casCmdPath(datas.last)).limit(0)
  }

  // the frame builder over ONE walk's steps — shared by the legacy
  // frame consult above and the typed [[casCdfFeed]]
  private def casCdfFrames(spark: SparkSession, table: String,
      steps: Seq[(CasCdfStep, Seq[String], Seq[String])])
      : Seq[DataFrame] = {
    import org.apache.spark.sql.functions.lit
    steps.flatMap { case (st, prevDel, curDel) =>
          def side(lines: Seq[String], dels: Seq[String]) =
            if (lines.isEmpty) None
            else Some(casResolveRead(spark, lines ++ dels,
              s"casChangesSinceCdf($table@${st.version})"))
          val diff =
            (side(st.added, curDel), side(st.removed, prevDel)) match {
              case (Some(nw), Some(old)) => Seq(
                nw.exceptAll(old).withColumn("_sign", lit(1)),
                old.exceptAll(nw).withColumn("_sign", lit(-1)))
              case (Some(nw), None) =>
                Seq(nw.withColumn("_sign", lit(1)))
              case (None, Some(old)) =>
                Seq(old.withColumn("_sign", lit(-1)))
              case (None, None) => Nil
            }
          // new-tombstone retractions: the rows the tombstone hides
          // = the PRE-commit snapshot's visible rows with a forget
          // key, read extent-pruned by the keys' range (conservative
          // when keys are not long-castable) with the OLDER
          // tombstones applied, so already-hidden rows never
          // re-retract — O(forget-set + extent-hit waves)
          val tomb = st.tombstones
            .groupBy(_.split(" ", 3)(1)).toSeq.flatMap {
              case (keyCol, lines) =>
                import org.apache.spark.sql.functions.{broadcast,
                  col, count, max, min}
                val keys = spark.read
                  .parquet(lines.map(casCmdPath): _*)
                  .select(col(keyCol)).distinct()
                val r = keys.agg(min(col(keyCol).cast("long")),
                  max(col(keyCol).cast("long")), count(lit(1)),
                  count(col(keyCol).cast("long"))).head()
                val prevActive = casActiveCmdsAt(table, st.version - 1)
                val keptData =
                  if (r.isNullAt(0) || r.getLong(2) != r.getLong(3))
                    prevActive.filterNot(casIsDel)
                  else {
                    val (paths, _) = casPruneLines(prevActive,
                      r.getLong(0), r.getLong(1))
                    prevActive.filter(l => !casIsDel(l) &&
                      paths.contains(casCmdPath(l)))
                  }
                if (keptData.isEmpty) None
                else Some(casResolveRead(spark, keptData ++ prevDel,
                    s"casChangesSinceCdf($table@${st.version}:mor)")
                  .join(broadcast(keys), Seq(keyCol), "left_semi")
                  .withColumn("_sign", lit(-1)))
            }
          diff ++ tomb
    }
  }

  /** THE MAINTAINER'S WINDOW CONSULT — [[casChangesSinceCdf]] as one
    * typed verdict from ONE log walk ([[CasCdfResult]]): the plan and
    * the frame can never disagree across a racing commit, an empty or
    * meta-only window costs ZERO data-path listings (no schema borrow
    * — [[CasCdfResult.Empty]]), and a retention-retired window comes
    * back as [[CasCdfResult.Retired]] instead of an error, because a
    * maintainer owns a well-defined recovery the ad-hoc reader does
    * not: recompute from the consulted head (the refresh path). At
    * 100 TB, retention jobs and lagging maintainers WILL cross — the
    * crossing must degrade, not kill the pipeline
    * ([[graft.ops.CasIvm]]).
    */
  def casCdfFeed(spark: SparkSession, table: String,
      fromV: Int): (CasCdfResult, Int) = {
    val (walk, head) = casCdfWalk(table, fromV)
    walk match {
      case Left(reason) => (CasCdfResult.Retired(reason), head)
      case Right(None) => (CasCdfResult.NonDiffable, head)
      case Right(Some(steps)) =>
        val frames = casCdfFrames(spark, table, steps)
        if (frames.isEmpty) (CasCdfResult.Empty, head)
        else (CasCdfResult.Delta(
          frames.reduce(_.unionByName(_, true)),
          steps.map(_._1)), head)
    }
  }

  /** CDC APPLY — the full `MERGE … WHEN MATCHED AND op = 'D' THEN
    * DELETE WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
    * INSERT *`: one CDC batch (upserts AND deletes, discriminated by
    * `opCol` — `'D'` deletes, anything else upserts) applied to a
    * multi-writer CAS table in ONE atomic commit; a reader can never
    * observe the batch's inserts without its deletes. Classification,
    * OCC contract, NULL/duplicate-key discipline, and tombstone
    * interplay are [[casMergeInto]]'s, with the delete clause folded
    * into the same rewrite pass: commits extent-disjoint from EVERY
    * change key (upsert or delete) retain by reference; affected
    * waves rewrite with deleted keys' rows removed (null-safe
    * anti-join) and matched upsert rows replaced in place; unmatched
    * upsert rows land as the tight-extent insert wave. A delete for
    * an absent key is a no-op, not an error (CDC replays and
    * out-of-order feeds produce them).
    *
    * This is what replicating a transactional upstream INTO the
    * warehouse actually needs (Debezium-shaped feeds): per batch
    * O(extent-hit waves + batch) + one commit file at any table
    * size.
    */
  def casApplyCdc(spark: SparkSession, table: String, c: String,
      changes: DataFrame, opCol: String = "op", retries: Int = 8,
      beforeCommit: () => Unit = () => ()): CasCdcStats =
    casApplyCdcImpl(spark, table, c, changes, opCol, retries,
      beforeCommit, None).getOrElse(
      sys.error(s"casApplyCdc($table): unreachable — dedup applies " +
        "only to the batch form"))

  /** EXACTLY-ONCE streaming CDC apply — [[casApplyCdc]] carrying the
    * same (stream, batchId) TXN marker as [[casMergeBatch]]: a
    * crash-replayed batch dedups instead of re-deleting rows a
    * concurrent writer re-inserted or rolling their updates back.
    */
  def casApplyCdcBatch(spark: SparkSession, table: String, c: String,
      changes: DataFrame, opCol: String, stream: String,
      batchId: Long, retries: Int = 8,
      beforeCommit: () => Unit = () => (),
      fence: Option[Long] = None): Option[CasCdcStats] = {
    if (casCommittedBatch(table, stream, batchId)) return None
    casApplyCdcImpl(spark, table, c, changes, opCol, retries,
      beforeCommit, Some((stream, batchId)), fence)
  }

  private def casApplyCdcImpl(spark: SparkSession, table: String,
      c: String, changes: DataFrame, opCol: String, retries: Int,
      beforeCommit: () => Unit,
      txn: Option[(String, Long)],
      fence: Option[Long] = None): Option[CasCdcStats] = {
    import org.apache.spark.sql.functions.{col, count, countDistinct,
      lit, when}
    import spark.implicits._
    val txnLines = txn.map { case (s, b) => s"TXN $s $b" }.toSeq
    val cols = casRead(spark, table).columns.toSeq
    require(changes.columns.contains(opCol),
      s"casApplyCdc($table): changes carry no op column '$opCol'")
    require((changes.columns.toSet - opCol) == cols.toSet,
      s"casApplyCdc($table): change columns " +
        s"${changes.columns.toSet - opCol} differ from table's " +
        s"${cols.toSet}")
    val chg = changes.select((cols.map(col) :+
      (col(opCol) === lit("D")).as("__del")): _*).persist()
    try {
      val prof = chg.agg(count(lit(1)), count(col(c)),
        countDistinct(col(c)), count(col(c).cast("long"))).head()
      require(prof.getLong(1) == prof.getLong(2),
        s"casApplyCdc($table): duplicate change keys on $c — " +
          "compact the batch to its last change per key first")
      require(prof.getLong(1) == prof.getLong(3),
        s"casApplyCdc($table): change keys on $c must be " +
          "long-castable")
      if (prof.getLong(0) == 0L)
        return Some(CasCdcStats(casHead(table), 0,
          casActiveCmds(table).count(l => !casIsDel(l)), 0L, 0L, 0L))
      val ups = chg.filter(!col("__del")).drop("__del")
      val k = chg.select(col(c).cast("long").as("__k"))
        .filter(col("__k").isNotNull).distinct()
      val delK = chg.filter(col("__del"))
        .select(col(c).cast("long").as("__dk"))
        .filter(col("__dk").isNotNull).distinct()
      var attempt = 0
      while (attempt < retries) {
        val head = casHead(table)
        if (txn.exists { case (s, b) =>
          casCommittedBatchBelow(table, s, b, head + 1) })
          return None
        // maintainer fence — same contract as [[casMergeImpl]]'s
        if (fence.exists(f => txn.exists { case (s, _) =>
          !casFenceHolds(table, s, f, head + 1) }))
          return None
        val cmds = casActiveCmdsAt(table, head)
        val (dels, datas) = cmds.partition(casIsDel)
        val exts = datas.zipWithIndex.flatMap { case (cmd, i) =>
          casExtent(cmd).map { case (mn, mx) => (i, mn, mx) }
        }
        val hitIds: Set[Int] =
          if (exts.isEmpty) Set.empty[Int]
          else k.join(org.apache.spark.sql.functions.broadcast(
              exts.toDF("__eid", "__mn", "__mx")),
              col("__k").between(col("__mn"), col("__mx")))
            .select("__eid").distinct().as[Int].collect().toSet
        val extIds = exts.map(_._1).toSet
        val (retainedIdx, affectedIdx) = datas.indices.partition(i =>
          extIds(i) && !hitIds(i))
        val retained = retainedIdx.map(datas)
        val affected = affectedIdx.map(datas)
        val evolved = datas.exists(casIsEvolved)
        val dataDir = new File(dir(table + "__data"))

        if (affected.isEmpty) {
          // every wave key-disjoint: deletes are all no-ops, the
          // upserts are all inserts — one delta ADDS commit
          val staged = new File(dataDir,
            java.util.UUID.randomUUID().toString)
          ups.write.mode("errorifexists").parquet(staged.getPath)
          val stagedDf = spark.read.parquet(staged.getPath)
          val (lo, hi) = casStatsOf(stagedDf, c)
          val n = stagedDf.count()
          if (n == 0L) {
            // a pure-delete batch over disjoint extents: nothing to
            // publish beyond the TXN marker (batch form) — or
            // nothing at all
            delete(staged)
            if (txnLines.isEmpty)
              return Some(CasCdcStats(head, 0, retained.size,
                0L, 0L, 0L))
            beforeCommit()
            if (casTryCommit(table, head + 1, txnLines))
              return Some(CasCdcStats(head + 1, 0, retained.size,
                0L, 0L, 0L))
          } else {
            val verb = if (evolved) "ADDES" else "ADDS"
            beforeCommit()
            if (casTryCommit(table, head + 1,
              s"$verb $lo $hi ${staged.getPath}" +: txnLines)) {
              casMaybeVacuum(table, head + 1)
              return Some(CasCdcStats(head + 1, 0, retained.size,
                0L, n, 0L))
            }
            delete(staged)
          }
        } else {
          val hit = casResolveRead(spark, affected,
            s"casApplyCdc($table)")
          val hitK = col(c).cast("long")
          // delete clause first: matched delete keys' rows leave the
          // rewrite (null-safe — NULL-keyed target rows never match)
          val deletedRows = hit.join(delK, hitK === col("__dk"),
            "left_semi").count()
          val kept = hit.join(delK, hitK === col("__dk"), "left_anti")
          // then the upsert clause over the survivors
          val s2 = ups.select(
            (cols.map(cn => col(cn).as("__s_" + cn)) :+
              col(c).cast("long").as("__sk")): _*)
          val joined = kept.withColumn("__tk", hitK)
            .join(s2, col("__tk") === col("__sk"), "left")
          val matchedT = col("__sk").isNotNull
          val rewrite = joined.select(kept.columns.toSeq.map(cn =>
            when(matchedT, col("__s_" + cn)).otherwise(col(cn))
              .as(cn)): _*)
          val updatedRows = joined.filter(matchedT).count()
          val hitKeys = hit.select(hitK.as("__hk"))
            .filter(col("__hk").isNotNull).distinct()
          val insert = ups.join(hitKeys,
            col(c).cast("long") === col("__hk"), "left_anti")
          val stagedR = new File(dataDir,
            java.util.UUID.randomUUID().toString)
          rewrite.write.mode("errorifexists").parquet(stagedR.getPath)
          val (rlo, rhi) =
            casStatsOf(spark.read.parquet(stagedR.getPath), c)
          val rVerb = if (evolved) "REPLACEE" else "REPLACES"
          val stagedI = new File(dataDir,
            java.util.UUID.randomUUID().toString)
          insert.write.mode("errorifexists").parquet(stagedI.getPath)
          val insN = spark.read.parquet(stagedI.getPath).count()
          val insLine =
            if (insN == 0L) { delete(stagedI); Nil }
            else {
              val (ilo, ihi) =
                casStatsOf(spark.read.parquet(stagedI.getPath), c)
              val iVerb = if (evolved) "ADDES" else "ADDS"
              Seq(s"$iVerb $ilo $ihi ${stagedI.getPath}")
            }
          beforeCommit()
          if (casTryCommit(table, head + 1,
            s"$rVerb $rlo $rhi ${stagedR.getPath}" +:
              (insLine ++ retained.map(casDemote) ++ dels ++
                txnLines))) {
            casMaybeVacuum(table, head + 1)
            return Some(CasCdcStats(head + 1, affected.size,
              retained.size, updatedRows, insN, deletedRows))
          }
          delete(stagedR)
          if (insLine.nonEmpty) delete(stagedI)
        }
        attempt += 1
      }
      throw new CommitConflict(
        s"casApplyCdc($table): lost $retries CAS races")
    } finally {
      chg.unpersist()
      ()
    }
  }

  /** KEY-GRAIN GROUP REPLACE — the N:M CDC landing: atomically
    * DELETE every row whose key (`c`, cast long) is in `keys` and
    * INSERT `rows`, as ONE commit carrying the (stream, batchId) TXN
    * marker — `INSERT OVERWRITE ... PARTITION` semantics at KEY
    * grain instead of partition grain. Where [[casApplyCdcBatch]]
    * upserts at one-row-per-key (and loudly rejects duplicate change
    * keys), this form replaces a key's WHOLE ROW GROUP — exactly the
    * landing a join-MV with duplicate keys on either side needs
    * ([[graft.ops.CasIvm.maintainJoin]]'s N:M case: a key's pair set
    * changes as a set, not as one row), and the general device for
    * any multiplicity-carrying materialization.
    *
    * Classification is [[casDeleteWhereKeys]]'s distributed pass:
    * the extent table (one row per active commit) broadcasts against
    * the keys; waves provably disjoint from every key are RETAINED
    * BY REFERENCE, hit waves rewrite with the keyed rows removed
    * (null-safe — a NULL/uncastable target key never matches and is
    * retained), and `rows` land as a separate stats-tight insert
    * wave in the same commit. Exactly-once via the TXN dedup and the
    * optional maintainer `fence` ([[casApplyCdcBatch]]'s contract:
    * None = this batch already landed, or the fence moved — re-read
    * and re-derive). Contract: every row of `rows` must carry a key
    * in `keys` (the caller derives both from one change set; rows
    * outside `keys` would land as plain inserts untracked by the
    * delete side).
    *
    * 100 TB shape: O(hit waves' data + new rows) + one commit file —
    * a window touching 3 of 10,000 waves rewrites 3, and the insert
    * extent stays tight instead of widening a rewrite's.
    */
  def casReplaceKeys(spark: SparkSession, table: String, c: String,
      keys: DataFrame, rows: DataFrame, stream: String,
      batchId: Long, retries: Int = 8,
      beforeCommit: () => Unit = () => (),
      fence: Option[Long] = None): Option[CasCdcStats] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    if (casCommittedBatch(table, stream, batchId)) return None
    val cols = casRead(spark, table).columns.toSeq
    require(rows.columns.toSet == cols.toSet,
      s"casReplaceKeys($table): row columns ${rows.columns.toSet} " +
        s"differ from table's ${cols.toSet}")
    val ins = rows.select(cols.map(col): _*)
    // a NULL/uncastable key could never classify its waves — the
    // delete side would silently no-op; reject loudly instead
    // ([[casApplyCdc]]'s discipline)
    val kProf = keys.agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.count(
        col(keys.columns.head).cast("long"))).head()
    require(kProf.getLong(0) == kProf.getLong(1),
      s"casReplaceKeys($table): keys on $c must be long-castable")
    val k = keys.select(col(keys.columns.head).cast("long").as("__k"))
      .filter(col("__k").isNotNull).distinct().persist()
    try {
      var attempt = 0
      while (attempt < retries) {
        val head = casHead(table)
        if (casCommittedBatchBelow(table, stream, batchId, head + 1))
          return None
        if (fence.exists(f => !casFenceHolds(table, stream, f,
          head + 1)))
          return None
        val cmds = casActiveCmdsAt(table, head)
        val (dels, datas) = cmds.partition(casIsDel)
        val exts = datas.zipWithIndex.flatMap { case (cmd, i) =>
          casExtent(cmd).map { case (mn, mx) => (i, mn, mx) }
        }
        val hitIds: Set[Int] =
          if (exts.isEmpty) Set.empty[Int]
          else k.join(broadcast(exts.toDF("__eid", "__mn", "__mx")),
              col("__k").between(col("__mn"), col("__mx")))
            .select("__eid").distinct().as[Int].collect().toSet
        val extIds = exts.map(_._1).toSet
        val (retainedIdx, affectedIdx) = datas.indices.partition(i =>
          extIds(i) && !hitIds(i))
        val retained = retainedIdx.map(datas)
        val affected = affectedIdx.map(datas)
        val evolved = datas.exists(casIsEvolved)
        val dataDir = new File(dir(table + "__data"))
        val txnLines = Seq(s"TXN $stream $batchId")
        val stagedI = new File(dataDir,
          java.util.UUID.randomUUID().toString)
        ins.write.mode("errorifexists").parquet(stagedI.getPath)
        val stagedDf = spark.read.parquet(stagedI.getPath)
        val insN = stagedDf.count()
        val insLine =
          if (insN == 0L) { delete(stagedI); Nil }
          else {
            val (ilo, ihi) = casStatsOf(stagedDf, c)
            val iVerb = if (evolved) "ADDES" else "ADDS"
            Seq(s"$iVerb $ilo $ihi ${stagedI.getPath}")
          }
        if (affected.isEmpty) {
          // every wave key-disjoint: the delete side is a no-op and
          // the commit is the insert wave (or TXN-only) — the
          // O(delta) append fast path
          beforeCommit()
          if (casTryCommit(table, head + 1, insLine ++ txnLines)) {
            casMaybeVacuum(table, head + 1)
            return Some(CasCdcStats(head + 1, 0, retained.size, 0L,
              insN, 0L))
          }
          if (insLine.nonEmpty) delete(stagedI)
        } else {
          val hit = casResolveRead(spark, affected,
            s"casReplaceKeys($table)")
          val hitK = hit(c).cast("long")
          val removed = hit.join(k, hitK === col("__k"), "left_semi")
            .count()
          val kept = hit.join(k, hitK === col("__k"), "left_anti")
          val stagedR = new File(dataDir,
            java.util.UUID.randomUUID().toString)
          kept.write.mode("errorifexists").parquet(stagedR.getPath)
          val (rlo, rhi) =
            casStatsOf(spark.read.parquet(stagedR.getPath), c)
          val rVerb = if (evolved) "REPLACEE" else "REPLACES"
          beforeCommit()
          if (casTryCommit(table, head + 1,
            s"$rVerb $rlo $rhi ${stagedR.getPath}" +:
              (insLine ++ retained.map(casDemote) ++ dels ++
                txnLines))) {
            casMaybeVacuum(table, head + 1)
            return Some(CasCdcStats(head + 1, affected.size,
              retained.size, 0L, insN, removed))
          }
          delete(stagedR)
          if (insLine.nonEmpty) delete(stagedI)
        }
        attempt += 1
      }
      throw new CommitConflict(
        s"casReplaceKeys($table): lost $retries CAS races")
    } finally {
      k.unpersist()
      ()
    }
  }

  /** SORT-CLUSTERED REWRITE — Delta's `OPTIMIZE … ZORDER BY (c)` in
    * one dimension / Iceberg's sort-ordered rewrite: rewrite the
    * whole snapshot as `waves` RANGE-DISJOINT sorted waves, each its
    * own commit line with a tight [min, max] extent. This is the
    * LAYOUT-MAINTENANCE half of the extent-skipping story: appends
    * and merges keep extents useful only while keys arrive
    * clustered; once waves overlap, every pruning consult and every
    * CoW delete/update/merge degrades to opening most of the table.
    * One cluster pass restores point/range consults to opening ONE
    * wave and makes later DML extent-local again (q309's
    * precondition).
    *
    * Mechanics: ONE range-shuffle + within-partition sort over the
    * snapshot (the TeraSort shape — RangePartitioner samples split
    * points, no global sort barrier), written once; each part file
    * then becomes its own wave directory via a metadata-grain move
    * (the directory grain [[casVacuum]]'s reference set is built
    * on), with per-wave extents computed in one grouped pass over
    * the staged output. MoR tombstones are FOLDED (the snapshot read
    * applies them, and they do not ride the commit) — clustering is
    * also a compaction. Rows whose key is NULL (or fails the long
    * cast) sort into the first range partition and give that wave a
    * conservative `-` extent, never a lying one. Same OCC contract
    * as every rewrite; a lost race deletes its staged waves and
    * recomputes.
    *
    * 100 TB shape: O(table) once — the cost every format charges for
    * a clustering rewrite — buying O(1-wave) point consults and
    * extent-local DML until the layout drifts again. Run it at the
    * cadence layout drift warrants, not per write.
    */
  def casClusterBy(spark: SparkSession, table: String, c: String,
      waves: Int, retries: Int = 8,
      beforeCommit: () => Unit = () => ()): CasClusterStats = {
    import org.apache.spark.sql.functions.{col, count, input_file_name,
      lit, max, min}
    require(waves >= 1, s"casClusterBy($table): waves must be >= 1")
    var attempt = 0
    while (attempt < retries) {
      val head = casHead(table)
      val cmds = casActiveCmdsAt(table, head)
      val (dels, datas) = cmds.partition(casIsDel)
      val snapshot = casResolveRead(spark, cmds,
        s"casClusterBy($table)")
      val dataDir = new File(dir(table + "__data"))
      val tmp = new File(dataDir,
        java.util.UUID.randomUUID().toString + ".clustering")
      val k = col(c).cast("long")
      snapshot.repartitionByRange(waves, k)
        .sortWithinPartitions(k)
        .write.mode("errorifexists").parquet(tmp.getPath)
      // one grouped pass over the staged output: per-file extent +
      // rowcount (bounded output — one row per part file)
      val stats = spark.read.parquet(tmp.getPath)
        .groupBy(input_file_name().as("__f"))
        .agg(min(k).as("__mn"), max(k).as("__mx"),
          count(lit(1)).as("__n"), count(k).as("__nk"))
        .collect().toSeq
        .sortBy(r => if (r.isNullAt(1)) Long.MinValue else r.getLong(1))
      var moved = List.empty[File]
      val lines: Seq[String] =
        if (stats.isEmpty) {
          // fully-tombstoned snapshot: publish one empty wave so the
          // table stays readable with its schema
          val wdir = new File(dataDir,
            java.util.UUID.randomUUID().toString)
          snapshot.limit(0).write.mode("errorifexists")
            .parquet(wdir.getPath)
          moved = wdir :: moved
          Seq(s"REPLACES - - ${wdir.getPath}")
        } else stats.zipWithIndex.map { case (r, i) =>
          val src = new File(new java.net.URI(r.getString(0)).getPath)
          val wdir = new File(dataDir,
            java.util.UUID.randomUUID().toString)
          require(wdir.mkdirs() && src.renameTo(new File(wdir,
            src.getName)), s"casClusterBy($table): move failed for " +
            s"${src.getPath}")
          moved = wdir :: moved
          val (lo, hi) =
            if (r.isNullAt(1) || r.isNullAt(2) ||
              r.getLong(3) != r.getLong(4)) ("-", "-")
            else (r.getLong(1).toString, r.getLong(2).toString)
          val verb = if (i == 0) "REPLACES" else "ADDS"
          s"$verb $lo $hi ${wdir.getPath}"
        }
      val rows = stats.map(_.getLong(3)).sum
      beforeCommit()
      if (casTryCommit(table, head + 1, lines)) {
        delete(tmp)
        casMaybeVacuum(table, head + 1)
        return CasClusterStats(head + 1, lines.size,
          datas.size, rows)
      }
      moved.foreach(delete)
      delete(tmp)
      attempt += 1
    }
    throw new CommitConflict(
      s"casClusterBy($table): lost $retries CAS races")
  }

  // the shared copy-on-write delete core: classification by commit
  // extent (either a per-extent local predicate or one distributed
  // pass returning the HIT extent ids), then rewrite-affected /
  // retain-disjoint under the usual OCC loop and multi-line commit
  private def casDeleteCow(spark: SparkSession, table: String,
      c: String, retries: Int, beforeCommit: () => Unit,
      disjoint: (Long, Long) => Boolean = null,
      disjointAll: Seq[(Int, Long, Long)] => Set[Int] = null,
      remainOf: DataFrame => (DataFrame, Long),
      ctx: String = "casDeleteWhere"): CasDeleteStats = {
    import org.apache.spark.sql.functions.{col, max, min}
    var attempt = 0
    while (attempt < retries) {
      val head = casHead(table)
      val cmds = casActiveCmdsAt(table, head)
      val (dels, datas) = cmds.partition(casIsDel)
      val exts = datas.zipWithIndex.flatMap { case (cmd, i) =>
        casExtent(cmd).map { case (mn, mx) => (i, mn, mx) }
      }
      val hitIds: Set[Int] =
        if (disjointAll != null) disjointAll(exts)
        else exts.collect {
          case (i, mn, mx) if !disjoint(mn, mx) => i
        }.toSet
      val extIds = exts.map(_._1).toSet
      val (retainedIdx, affectedIdx) = datas.indices.partition(i =>
        extIds(i) && !hitIds(i))
      val retained = retainedIdx.map(datas)
      val affected = affectedIdx.map(datas)
      if (affected.isEmpty)
        return CasDeleteStats(head, 0, retained.size, 0L)
      val hit = casResolveRead(spark, affected,
        s"$ctx($table)")
      val (remain, deleted) = remainOf(hit)
      val staged = new File(new File(dir(table + "__data")),
        java.util.UUID.randomUUID().toString)
      remain.write.mode("errorifexists").parquet(staged.getPath)
      val (lo, hi) = casStatsOf(spark.read.parquet(staged.getPath), c)
      val verb =
        if (datas.exists(casIsEvolved)) "REPLACEE" else "REPLACES"
      val keptLines = retained.map(casDemote)
      beforeCommit()
      if (casTryCommit(table, head + 1,
        s"$verb $lo $hi ${staged.getPath}" +: (keptLines ++ dels))) {
        casMaybeVacuum(table, head + 1)
        return CasDeleteStats(head + 1, affected.size, retained.size,
          deleted)
      }
      delete(staged) // stale loser rewrite, recomputed on retry
      attempt += 1
    }
    throw new CommitConflict(
      s"$ctx($table): lost $retries CAS races")
  }

  /** RANGE DELETE — time-based retention ("delete everything older
    * than 90 days"), the other compliance delete a 100 TB warehouse
    * runs on schedule. Against time-ordered append waves the commit
    * extents make most of the log decidable WITHOUT READING DATA:
    * a commit whose [min, max] extent lies fully inside [lo, hi] is
    * DROPPED outright — its line simply does not ride into the new
    * commit (the partition-drop fast path: no read, no rewrite; the
    * directory becomes collectable after truncate+vacuum); a commit
    * fully outside is RETAINED by reference; only BOUNDARY commits
    * (straddling lo or hi, or stat-less) are rewritten. For a daily
    * retention job over time-bucketed waves that is one boundary
    * rewrite per run regardless of table size.
    *
    * Same commit shape and OCC contract as [[casDeleteWhere]]. When
    * every affected commit is dropped whole (nothing to rewrite) the
    * stop line is a `CKPT` marker carrying the retained lines — no
    * rewrite directory is fabricated. `deletedRows` counts dropped
    * rows at parquet-footer grain (metadata read, no data scan) plus
    * the rows filtered out of boundary rewrites.
    */
  def casDeleteRange(spark: SparkSession, table: String, c: String,
      lo: Long, hi: Long, retries: Int = 8,
      beforeCommit: () => Unit = () => ()): CasRangeDeleteStats = {
    import org.apache.spark.sql.functions.{col, max, min}
    require(lo <= hi, s"casDeleteRange($table): empty range")
    var attempt = 0
    while (attempt < retries) {
      val head = casHead(table)
      val cmds = casActiveCmdsAt(table, head)
      val (dels, datas) = cmds.partition(casIsDel)
      // NULL caveat on the whole-drop fast path: a wave whose extent
      // lies fully inside [lo, hi] can still carry NULL-keyed rows
      // (min/max ignore NULLs) — NULL rows are outside every range
      // and must be retained, so fully-inside waves are only DROPPED
      // when their footer rowcount equals their in-range rowcount…
      // which we cannot know without reading. Extent stats here are
      // written over `cast(long)` of a NOT-NULL key column by every
      // producer ([[casAppendStats]]); a wave with NULL keys gets a
      // `-` bound and lands on the boundary (rewrite) path, where the
      // null-safe filter below retains its NULL rows.
      val dropped = datas.filter(l => casExtent(l).exists {
        case (mn, mx) => mn >= lo && mx <= hi
      })
      val retained = datas.filter(l => casExtent(l).exists {
        case (mn, mx) => mx < lo || mn > hi
      })
      val boundary = datas.diff(dropped).diff(retained)
      if (dropped.isEmpty && boundary.isEmpty)
        return CasRangeDeleteStats(head, 0, 0, retained.size, 0L)
      // footer-grain count of the whole-dropped waves (no data scan)
      val droppedRows =
        if (dropped.isEmpty) 0L
        else spark.read.parquet(dropped.map(casCmdPath): _*).count()
      val (rewriteLines, filteredRows) =
        if (boundary.isEmpty) (Nil, 0L)
        else {
          val hit = casResolveRead(spark, boundary,
            s"casDeleteRange($table)")
          // NULL-SAFE: a NULL (or uncastable) key is outside every
          // range and must be RETAINED — three-valued `!between`
          // evaluates to NULL on it and a plain filter would silently
          // drop it from the rewrite
          val inRange = org.apache.spark.sql.functions.coalesce(
            col(c).cast("long").between(lo, hi),
            org.apache.spark.sql.functions.lit(false))
          val filtered = hit.filter(inRange).count()
          val remain = hit.filter(!inRange)
          val staged = new File(new File(dir(table + "__data")),
            java.util.UUID.randomUUID().toString)
          remain.write.mode("errorifexists").parquet(staged.getPath)
          val (slo, shi) =
            casStatsOf(spark.read.parquet(staged.getPath), c)
          val verb =
            if (datas.exists(casIsEvolved)) "REPLACEE" else "REPLACES"
          (Seq(s"$verb $slo $shi ${staged.getPath}"), filtered)
        }
      val lines =
        if (rewriteLines.nonEmpty)
          rewriteLines ++ retained.map(casDemote) ++ dels
        else "CKPT" +: (retained ++ dels)
      beforeCommit()
      if (casTryCommit(table, head + 1, lines)) {
        casMaybeVacuum(table, head + 1)
        return CasRangeDeleteStats(head + 1, dropped.size,
          boundary.size, retained.size, droppedRows + filteredRows)
      }
      rewriteLines.foreach(l => delete(new File(casCmdPath(l))))
      attempt += 1
    }
    throw new CommitConflict(
      s"casDeleteRange($table): lost $retries CAS races")
  }

  /** MERGE-ON-READ ROW DELETE — Iceberg's equality-delete files: the
    * forget keys land as a tombstone parquet under staging and ONE
    * tiny `DEL <keyCol> <path>` commit publishes them; no data file
    * is touched. Every snapshot reader from this version on
    * ([[casRead]], [[casReadAt]], [[catRead]] through its pin,
    * [[casReadPruned]]) anti-joins the tombstone keys out —
    * [[casResolveRead]] is the single choke point. Time travel BELOW
    * this version still shows the rows: the delete is a versioned
    * fact, not an erasure — [[casCompactDeletes]] (or any
    * replace/truncate+vacuum cycle) is the physical-erasure step a
    * compliance deadline actually needs.
    *
    * 100 TB shape: the delete itself is O(forget-set) — milliseconds
    * regardless of table size; readers pay one broadcast anti-join
    * until compaction folds the tombstone in. That deferred-rewrite
    * trade (write-cheap, read-taxed, compact-later) is exactly
    * Delta's deletion vectors / Iceberg MoR.
    */
  def casDeleteMoR(spark: SparkSession, table: String, keyCol: String,
      keys: DataFrame, retries: Int = 8,
      beforeCommit: () => Unit = () => ()): Int = {
    import org.apache.spark.sql.functions.col
    val staged = new File(new File(dir(table + "__data")),
      java.util.UUID.randomUUID().toString)
    keys.select(col(keyCol)).distinct()
      .write.mode("errorifexists").parquet(staged.getPath)
    var attempt = 0
    while (attempt < retries) {
      val n = casHead(table) + 1
      beforeCommit()
      if (casTryCommit(table, n,
        Seq(s"DEL $keyCol ${staged.getPath}"))) {
        casMaybeVacuum(table, n)
        return n
      }
      attempt += 1
    }
    throw new CommitConflict(
      s"casDeleteMoR($table): lost $retries CAS races; tombstone " +
        s"retained at ${staged.getPath}")
  }

  /** DELETE COMPACTION — materialize the current snapshot with every
    * MoR tombstone applied and publish it as ONE plain REPLACE: the
    * anti-join read tax disappears, the tombstoned rows stop being
    * physical (after [[casTruncate]] + [[casVacuum]] reclaim the old
    * wave directories — THAT is the GDPR erasure point), and schema
    * evolution collapses too (the materialized output carries the
    * merged schema uniformly, so the evolved-read flag drops). No-op
    * (returns the current head, commits nothing) when no tombstone is
    * active. Same OCC retry contract as [[casReplace]].
    */
  def casCompactDeletes(spark: SparkSession, table: String,
      retries: Int = 8): Int = {
    var attempt = 0
    while (attempt < retries) {
      val head = casHead(table)
      val cmds = casActiveCmdsAt(table, head)
      if (!cmds.exists(casIsDel)) return head
      val out = casResolveRead(spark, cmds, s"casCompactDeletes($table)")
      val staged = new File(new File(dir(table + "__data")),
        java.util.UUID.randomUUID().toString)
      out.write.mode("errorifexists").parquet(staged.getPath)
      if (casTryCommit(table, head + 1,
        Seq("REPLACE " + staged.getPath))) return head + 1
      delete(staged)
      attempt += 1
    }
    throw new CommitConflict(
      s"casCompactDeletes($table): lost $retries CAS races")
  }

  /** SMALL-WAVE COMPACTION (`OPTIMIZE`) — the maintenance pass a
    * streaming-fed table needs: micro-batch appends accrete one wave
    * directory per commit, and a 100 TB table fed every minute is
    * half a million tiny waves a year — every snapshot read unions
    * them all. When the active window holds more than `maxWaves` data
    * lines, the SMALLEST excess waves (by on-disk bytes — the
    * bin-packing criterion every OPTIMIZE uses) are rewritten into
    * ONE directory; the big waves are retained by reference, exactly
    * the [[casDeleteWhere]] commit shape (one stats-carrying replace
    * line naming the rewrite + the retained lines verbatim + active
    * tombstones riding along).
    *
    * The merged line's extent is the UNION of the merged extents when
    * every merged line carries stats — computed from the log alone,
    * NO data read beyond the rewrite itself (min-of-mins is the true
    * min). Any stat-less merged line degrades the extent to `-`
    * conservatively. Same single-stats-column caller contract as
    * [[casReadPruned]]. Merged tombstones are NOT applied to the
    * rewrite (active DEL lines keep applying, idempotently); merged
    * ADDB waves lose their active-window dedup line, but batch-dedup
    * state survives the deep scan / TXN checkpoint summaries
    * ([[casTxnState]]) exactly as it does across a REPLACE.
    *
    * 100 TB shape: cost is O(merged waves' bytes) — by construction
    * the smallest ones — and the steady state is bounded at
    * `maxWaves` directories per table regardless of append rate; the
    * commit is one CAS file publish, concurrent appends just retry it.
    */
  def casOptimize(spark: SparkSession, table: String,
      maxWaves: Int = 16, retries: Int = 8,
      beforeCommit: () => Unit = () => ()): CasOptimizeStats = {
    require(maxWaves >= 1, s"casOptimize($table): maxWaves < 1")
    var attempt = 0
    while (attempt < retries) {
      val head = casHead(table)
      val cmds = casActiveCmdsAt(table, head)
      val (dels, datas) = cmds.partition(casIsDel)
      if (datas.size <= maxWaves)
        return CasOptimizeStats(head, 0, datas.size)
      def dirBytes(p: String): Long = {
        def walk(f: File): Long =
          if (f.isFile) f.length()
          else Option(f.listFiles()).getOrElse(Array()).map(walk).sum
        walk(new File(p))
      }
      val bySize = datas.sortBy(l => dirBytes(casCmdPath(l)))
      val (merged, retained) = bySize.splitAt(datas.size - maxWaves + 1)
      val out = casResolveRead(spark, merged, s"casOptimize($table)")
      val staged = new File(new File(dir(table + "__data")),
        java.util.UUID.randomUUID().toString)
      out.write.mode("errorifexists").parquet(staged.getPath)
      // union extent from the log alone — valid because min-of-mins /
      // max-of-maxes over the merged inputs is the rewrite's extent
      // (a `-` input forces `-` out: the merged wave may carry NULL
      // keys the bounds cannot describe)
      val exts = merged.map(casExtent)
      val (lo, hi) =
        if (exts.forall(_.isDefined))
          (exts.flatten.map(_._1).min.toString,
            exts.flatten.map(_._2).max.toString)
        else ("-", "-")
      val verb =
        if (merged.exists(casIsEvolved)) "REPLACEE" else "REPLACES"
      beforeCommit()
      if (casTryCommit(table, head + 1,
        s"$verb $lo $hi ${staged.getPath}" +:
          (retained.map(casDemote) ++ dels))) {
        casMaybeVacuum(table, head + 1)
        return CasOptimizeStats(head + 1, merged.size, retained.size)
      }
      delete(staged) // stale loser rewrite, recomputed on retry
      attempt += 1
    }
    throw new CommitConflict(
      s"casOptimize($table): lost $retries CAS races")
  }

  /** RESTORE — roll the table back to version `v` (Delta `RESTORE
    * TABLE ... TO VERSION`): publish ONE metadata commit whose lines
    * are v's active snapshot verbatim behind a `CKPT` stop marker —
    * no data moves, the old waves become the head again, and every
    * property of the restored snapshot rides with its lines (ADDS
    * stats keep pruning, ADDE keeps the footer-merge flag, DEL
    * tombstones keep applying). History is preserved, not rewritten:
    * the bad versions stay readable between `v` and the restore
    * commit (time travel still serves them), and the restored waves
    * are re-referenced so retention/vacuum keep them alive even
    * after the bad REPLACE's own window is truncated. Restoring a
    * version whose replay window a [[casTruncate]] retired fails
    * loudly ([[casActiveCmdsAt]]).
    *
    * 100 TB shape: rollback of any size table is one tiny commit
    * file — the whole point of snapshot-by-reference.
    */
  def casRestore(spark: SparkSession, table: String, v: Int,
      retries: Int = 8, beforeCommit: () => Unit = () => ()): Int = {
    var attempt = 0
    while (attempt < retries) {
      val head = casHead(table)
      require(v >= 1 && v <= head,
        s"casRestore($table, $v): version out of range 1..$head")
      val lines = casActiveCmdsAt(table, v)
      beforeCommit()
      if (casTryCommit(table, head + 1, "CKPT" +: lines))
        return head + 1
      attempt += 1
    }
    throw new CommitConflict(
      s"casRestore($table): lost $retries CAS races")
  }

  /** DESCRIBE HISTORY — the operation log every table format exposes:
    * one row per EXISTING commit (retired versions are absent — their
    * absence IS the retention record), with the operation class
    * derived from the commit's verbs and the line/path counts. Pure
    * driver metadata (one small file read per commit, newest first);
    * no data is touched at any table size.
    */
  def casHistory(table: String): Seq[CasCommitInfo] =
    Option(casLogDir(table).listFiles()).getOrElse(Array())
      .filter(_.getName.endsWith(".commit"))
      .flatMap(f => f.getName.stripSuffix(".commit").toIntOption
        .map(n => (n, f))).sortBy(-_._1).toSeq
      .map { case (n, f) =>
        // classification over the payload lines — the leading TS
        // metadata line is not an operation
        val ls = readLines(f).filterNot(_.startsWith("TS "))
        val op =
          if (ls.contains("CKPT")) "CHECKPOINT" // incl. restore/drop
          else if (ls.forall(casIsDel)) "DELETE_MOR"
          else if (ls.exists(casIsReplace) && ls.size > 1) "REWRITE"
          else if (ls.exists(casIsReplace)) "REPLACE"
          else if (ls.exists(_.startsWith("ADDB "))) "APPEND_BATCH"
          else if (ls.exists(casIsEvolved)) "APPEND_EVOLVED"
          else "APPEND"
        CasCommitInfo(n, op, ls.size,
          ls.count(l => !casIsMeta(l) && !casIsDel(l)),
          ls.count(casIsDel), f.lastModified())
      }

  // ---- schema evolution ---------------------------------------------

  /** SCHEMA-EVOLVED APPEND — land a wave whose schema ADDS columns
    * relative to the table's earlier waves (Delta's
    * `mergeSchema=true` write): the commit line is `ADDE <path>`, and
    * its presence in the active window switches every snapshot read
    * to footer-merging ([[casResolveRead]]), so old rows surface the
    * new columns as NULL instead of the first-footer read silently
    * dropping them. The flag drains naturally: a REPLACE that
    * materializes a uniform schema ([[casCompactDeletes]], any
    * [[casReplace]]) stops the replay above the ADDE lines and plain
    * single-footer reads resume. Columns may only be ADDED (parquet
    * footer merge rejects incompatible types loudly) — the
    * widen-only evolution contract every format ships first.
    */
  def casAppendEvolved(df: DataFrame, table: String, retries: Int = 8,
      beforeCommit: () => Unit = () => ()): Int = {
    val staged = new File(new File(dir(table + "__data")),
      java.util.UUID.randomUUID().toString)
    df.write.mode("errorifexists").parquet(staged.getPath)
    var attempt = 0
    while (attempt < retries) {
      val n = casHead(table) + 1
      beforeCommit()
      if (casTryCommit(table, n, Seq("ADDE " + staged.getPath))) {
        casMaybeVacuum(table, n)
        casMaybeOptimize(df.sparkSession, table, n)
        return n
      }
      attempt += 1
    }
    throw new CommitConflict(
      s"casAppendEvolved($table): lost $retries CAS races; staged " +
        s"data retained at ${staged.getPath}")
  }

  /** Has `batchId` of `stream` already committed to this table? The
    * replay check behind [[casAppendBatch]]'s exactly-once contract —
    * driver-side at commit grain, like every log consult here.
    */
  def casCommittedBatch(table: String, stream: String,
      batchId: Long): Boolean =
    casCommittedBatchBelow(table, stream, batchId, casHead(table) + 1)

  /** The dedup check over versions STRICTLY BELOW `below`, scanning
    * BACKWARD and stopping at the first checkpoint: an ADDB line in
    * the window answers directly, and the checkpoint's TXN summary
    * (per-stream max committed batch id, complete over all history —
    * see [[casTxnState]]) answers for everything older, because batch
    * ids are monotone per stream. Cost: O(commits since checkpoint)
    * per micro-batch — the same bound [[casActiveCmds]] gives reads —
    * instead of the full-log scan the pre-checkpoint form paid.
    */
  private def casCommittedBatchBelow(table: String, stream: String,
      batchId: Long, below: Int): Boolean = {
    var n = below - 1
    while (n >= 1) {
      val ls = readLines(casCommitFile(table, n))
      if (ls.exists(_.startsWith(s"ADDB $stream $batchId "))) return true
      if (ls.exists { l =>
        l.startsWith(s"TXN $stream ") &&
          l.split(" ", 3)(2).toLong >= batchId
      }) return true
      // a checkpoint's TXN summary is complete over ALL history for
      // every stream — but only if the checkpoint WROTE TXN lines. A
      // legacy checkpoint (written before summaries existed) carries
      // none; its snapshot also omits any ADDB line a REPLACE had
      // compacted away, so stopping at it would re-admit a replayed
      // batch. Trust the summary only when it exists; otherwise keep
      // scanning the raw commits below (they still hold the original
      // ADDB lines — commits are immutable).
      if (ls.contains("CKPT") && ls.exists(_.startsWith("TXN ")))
        return false
      n -= 1
    }
    false
  }

  /** The table version at which a committed (stream, batchId) pair is
    * guaranteed visible: the ADDB commit that landed it, or — when
    * the batch is older than the last checkpoint — the checkpoint
    * whose TXN summary covers it (its snapshot already contains the
    * batch's rows, folded or compacted). None if the batch was never
    * committed. This is what a CATALOG transaction pins after a
    * dedup'd replay ([[graft.streaming.StreamingEtl.catTxnBatch]]):
    * pinning the RAW head instead would publish a CONCURRENT writer's
    * not-yet-pinned appends along with our own.
    */
  def casBatchVersion(table: String, stream: String,
      batchId: Long): Option[Int] = {
    var n = casHead(table)
    while (n >= 1) {
      val ls = readLines(casCommitFile(table, n))
      if (ls.exists(_.startsWith(s"ADDB $stream $batchId ")))
        return Some(n)
      if (ls.exists { l =>
        l.startsWith(s"TXN $stream ") &&
          l.split(" ", 3)(2).toLong >= batchId
      }) return Some(n)
      // same legacy discipline as [[casCommittedBatchBelow]]: only a
      // TXN-carrying checkpoint summarizes all older history
      if (ls.contains("CKPT") && ls.exists(_.startsWith("TXN ")))
        return None
      n -= 1
    }
    None
  }

  /** The maximum committed batch id for `stream` in this table's log
    * (0 when the stream has never committed) — the LOG-DERIVED cursor
    * of every incremental maintainer ([[graft.ops.CasIvm]]): because
    * the cursor is a TXN line ON the maintenance commit itself, "what
    * was absorbed" and "what the table holds" are ONE atomic fact —
    * no sidecar file, no land-to-cursor crash window, nothing to
    * fsync separately. O(commits since checkpoint) driver file reads
    * ([[casTxnState]]'s bound).
    */
  def casStreamCursor(table: String, stream: String): Long =
    casTxnState(table).getOrElse(stream, 0L)

  /** REGISTER an incremental maintainer with its SOURCE table — the
    * retention handshake: the maintainer's cursor lives as TXN lines
    * on its OWN rollup's log (atomic with each landing), so retention
    * on the source cannot see it without a pointer. `casSubscribe`
    * publishes that pointer as a metadata commit line
    * (`SUB <stream> <part> <rollup>`) in the source's log;
    * [[casTruncate]] resolves each registered stream's cursor through
    * it and, by default, CLAMPS retention so no live maintainer's
    * incremental window is retired. `part` decodes multi-source
    * cursors: "all" for a plain cursor (the packed value IS this
    * source's head), "hi"/"lo" for [[graft.ops.CasIvm.maintainJoin]]'s
    * packed (headA·2³², headB) pair. Registrations survive
    * checkpoints and truncation (restated like TXN summaries) and are
    * idempotent per stream (latest wins).
    */
  def casSubscribe(table: String, stream: String, rollup: String,
      part: String = "all", retries: Int = 8): Int = {
    require(Set("all", "hi", "lo")(part),
      s"casSubscribe($table, $stream): part must be all|hi|lo")
    require(!stream.contains(" ") && !rollup.contains(" "),
      s"casSubscribe($table): stream/rollup must not contain spaces")
    var attempt = 0
    while (attempt < retries) {
      val n = casHead(table) + 1
      if (casTryCommit(table, n, Seq(s"SUB $stream $part $rollup")))
        return n
      attempt += 1
    }
    throw new CommitConflict(
      s"casSubscribe($table, $stream): lost $retries CAS races")
  }

  /** The registered maintainer streams of `table`:
    * stream -> (part, rollup table). Backward fold to the last
    * SUBCK-carrying checkpoint (the restatement sentinel — the same
    * O(commits since checkpoint) bound as every consult; latest
    * registration per stream wins).
    */
  def casSubscribers(table: String): Map[String, (String, String)] = {
    var acc = Map.empty[String, (String, String)]
    var n = casHead(table)
    var atStop = false
    while (n >= 1 && !atStop) {
      val ls = readLines(casCommitFile(table, n))
      ls.foreach { l =>
        if (l.startsWith("SUB ")) {
          val p = l.split(" ", 4)
          if (!acc.contains(p(1))) acc += (p(1) -> ((p(2), p(3))))
        }
      }
      // only a SUBCK-carrying checkpoint restates ALL registrations;
      // scan past legacy checkpoints (same discipline as the TXN fold)
      if (ls.contains("SUBCK")) atStop = true
      n -= 1
    }
    acc
  }

  /** [[casStreamCursor]] AT table version `v` — what lets a catalog
    * publisher pin (source@cursor, rollup@v) as a MUTUALLY CONSISTENT
    * pair even while other maintainers advance the rollup past `v`:
    * the cursor is read from the same log prefix the rollup version
    * names, so the pair can never be skewed by a read-read race.
    */
  def casStreamCursorAt(table: String, stream: String, v: Int): Long =
    casTxnStateBelow(table, v + 1).getOrElse(stream, 0L)

  // the fence predicate of the fenced writers below, bounded at a
  // CAS target: commit only if the stream's committed cursor is
  // still exactly `expected`. Checked INSIDE the OCC loop with the
  // same head-first ordering as [[casCommittedBatchBelow]], so a
  // cursor-moving commit racing in occupies head+1, fails the CAS,
  // and the retry re-evaluates the fence over it — the check-then-
  // commit is linearizable.
  private def casFenceHolds(table: String, stream: String,
      expected: Long, below: Int): Boolean =
    casTxnStateBelow(table, below).getOrElse(stream, 0L) == expected

  /** FENCED FULL REFRESH — [[casOverwrite]] carrying a `TXN stream
    * batchId` cursor line, committed ONLY IF the stream's cursor is
    * still `fence`: the incremental maintainer's recompute path. The
    * REPLACE and the cursor advance are one atomic commit, and two
    * maintainers racing the same window serialize — the loser
    * returns None (its fence fails), re-reads the cursor, and
    * re-derives instead of clobbering the winner's newer state with
    * a recompute of an older snapshot. Returns the committed
    * version, None when fenced off.
    */
  def casOverwriteTxn(df: DataFrame, table: String, stream: String,
      batchId: Long, fence: Long, retries: Int = 8,
      beforeCommit: () => Unit = () => ()): Option[Int] = {
    val staged = new File(new File(dir(table + "__data")),
      java.util.UUID.randomUUID().toString)
    df.write.mode("errorifexists").parquet(staged.getPath)
    var attempt = 0
    while (attempt < retries) {
      val n = casHead(table) + 1
      if (!casFenceHolds(table, stream, fence, n)) {
        delete(staged) // a competing maintainer moved the cursor
        return None
      }
      beforeCommit()
      if (casTryCommit(table, n, Seq("REPLACE " + staged.getPath,
        s"TXN $stream $batchId"))) {
        casMaybeVacuum(table, n)
        return Some(n)
      }
      attempt += 1
    }
    delete(staged)
    throw new CommitConflict(
      s"casOverwriteTxn($table, $stream): lost $retries CAS races")
  }

  /** CURSOR-ONLY ADVANCE — a pure-metadata commit moving `stream`'s
    * cursor from `fence` to `batchId` with NO content change (the
    * TXN line is [[casIsMeta]]; every reader and tail-read skips
    * it). The incremental maintainer's noop-with-progress: a window
    * holding only empty appends or other streams' markers has no
    * rows to land, but leaving the cursor behind would make every
    * later consult re-walk those commits forever. Fenced like every
    * cursor move; None when a competitor advanced first.
    */
  def casTxnAdvance(table: String, stream: String, batchId: Long,
      fence: Long, retries: Int = 8): Option[Int] = {
    var attempt = 0
    while (attempt < retries) {
      val n = casHead(table) + 1
      if (!casFenceHolds(table, stream, fence, n)) return None
      if (casTryCommit(table, n, Seq(s"TXN $stream $batchId")))
        return Some(n)
      attempt += 1
    }
    throw new CommitConflict(
      s"casTxnAdvance($table, $stream): lost $retries CAS races")
  }

  /** EXACTLY-ONCE batch commit — the idempotent-sink half of
    * Structured Streaming's end-to-end guarantee: the commit line
    * carries the (stream, batchId) pair, so a REPLAYED batch (the
    * engine re-delivers the last uncommitted batch after recovery)
    * finds its id already in the log and returns None without
    * landing a second copy. The CAS makes the check-then-commit
    * LINEARIZABLE even against a concurrent instance of the same
    * stream, through its ordering: the head is read FIRST, the dedup
    * check covers exactly the versions below head+1, and the CAS
    * targets head+1 — any commit landing between check and CAS
    * occupies head+1, fails the CAS, and the retry re-runs the check
    * over a window that now includes it. (Checking before reading
    * the head would leave a window where a concurrent instance's
    * ADDB lands unseen and the same batch commits twice.) Returns
    * the committed version, or None for an already-committed
    * (deduplicated) batch.
    */
  def casAppendBatch(df: DataFrame, table: String, stream: String,
      batchId: Long, retries: Int = 8,
      beforeCommit: () => Unit = () => ()): Option[Int] = {
    // pre-stage fast path only: committment is monotone, so a hit
    // here is final — but a MISS proves nothing; the authoritative
    // check is the head-bounded one inside the CAS loop
    if (casCommittedBatch(table, stream, batchId)) return None
    val staged = new File(new File(dir(table + "__data")),
      java.util.UUID.randomUUID().toString)
    df.write.mode("errorifexists").parquet(staged.getPath)
    var attempt = 0
    while (attempt < retries) {
      val n = casHead(table) + 1
      if (casCommittedBatchBelow(table, stream, batchId, n)) {
        delete(staged) // a concurrent instance owns the batch
        return None
      }
      beforeCommit() // test seam: the check-to-CAS window
      if (casTryCommit(table, n,
        Seq(s"ADDB $stream $batchId ${staged.getPath}"))) {
        casMaybeVacuum(table, n)
        casMaybeOptimize(df.sparkSession, table, n)
        return Some(n)
      }
      attempt += 1
    }
    throw new CommitConflict(
      s"casAppendBatch($table, $stream, $batchId): lost $retries races")
  }

  /** Opportunistic staging GC from the commit path — every 16th
    * version the winner sweeps expired unreferenced staging dirs
    * (default grace), so crashed or retry-exhausted writers' waves
    * cannot accumulate unboundedly between manual [[casVacuum]] runs.
    * Amortized O(log/16) driver file reads per commit; the grace
    * window keeps any in-flight writer's staged-but-uncommitted wave
    * safe, exactly as the manual form does.
    */
  private def casMaybeVacuum(table: String, n: Int): Unit =
    if (n % 16 == 0) { casVacuum(table, autoVacuumGraceMs); () }

  /** Opportunistic small-wave compaction from the append path — the
    * [[casMaybeVacuum]] treatment for [[casOptimize]]: every 16th
    * version an append winner folds the active log back under
    * [[autoOptimizeMaxWaves]] waves, so an append-heavy table's
    * union-scan read stays flat FOREVER without any operator action
    * (between triggers the wave count is bounded by maxWaves + the
    * trigger period). A cheap driver no-op when the table already
    * holds few waves; BEST-EFFORT under contention — losing the
    * optimize's own CAS races must never fail the append that
    * triggered it (the data is committed; compaction is
    * housekeeping the next trigger retries). [[casAppendStats]]
    * waves are deliberately NOT auto-folded: their per-wave extents
    * are the skip structure, and merging them trades skipping for
    * read fan-in — an explicit operator decision ([[casOptimize]]).
    */
  private def casMaybeOptimize(spark: SparkSession, table: String,
      n: Int): Unit =
    if (n % 16 == 0) {
      try { casOptimize(spark, table, autoOptimizeMaxWaves); () }
      catch { case _: CommitConflict => () }
    }

  private val autoOptimizeMaxWaves: Int = 16

  /** Grace for the OPPORTUNISTIC vacuum only — much larger than the
    * manual default, because nobody chose the timing: a writer that
    * stalls a full 6 h between staging and winning its CAS keeps its
    * wave; the manual [[casVacuum]] stays operator-controlled with
    * its own (tighter) default.
    */
  private val autoVacuumGraceMs: Long = 6L * 60L * 60L * 1000L

  /** Garbage-collect staged directories that NO commit references —
    * the storage leak optimistic concurrency creates: a crashed
    * writer, or one that exhausted its retries, leaves its staged
    * wave under `<table>__data` forever (invisible to readers,
    * costly on storage). A directory is deleted only when (a) no
    * line anywhere in the log names it — the WHOLE log, not just the
    * post-REPLACE active suffix, so time-travel-style reads of older
    * commits stay safe — and (b) it is older than `minAgeMs`, the
    * grace window protecting a writer that has staged but not yet
    * won its CAS (the same retention trade Delta's VACUUM documents;
    * the default 15 min comfortably exceeds any stage-to-commit gap —
    * pass 0 only when no concurrent writer can exist, as tests do).
    * Returns the deleted directory paths.
    */
  def casVacuum(table: String,
      minAgeMs: Long = 15L * 60L * 1000L): Seq[String] = {
    // EVERY line of EVERY EXISTING commit counts as a reference — a
    // CKPT commit carries the snapshot's paths on its non-marker
    // lines, and missing them here would delete LIVE data. Commits a
    // [[casTruncate]] retired no longer pin their paths (that is the
    // GC: a replaced snapshot's directories become collectable once
    // the log forgets them) — EXCEPT data the CATALOG still names: a
    // table version pinned by [[catCommit]] must stay readable
    // through [[catRead]] even after per-table truncation, so the
    // catalog's resolved paths count as references too.
    //
    // RACE GUARD against a concurrent [[casTruncate]]: the list-then-
    // read is not atomic — a commit file listed here can be retired
    // (deleted) before its readLines, which would silently DROP its
    // lines from the reference set, and the truncation's fresh
    // checkpoint (written after our listing) would not be in the
    // listing either: live directories could be swept. A commit file
    // is never empty by construction ([[tryCommitIn]] always writes
    // at least one line), so empty-read + vanished-file is definitive
    // evidence of the race — re-list and recompute; the new listing
    // contains the truncation's checkpoint, whose lines carry every
    // surviving reference.
    var attempt = 0
    while (attempt < 8) {
      val commits = Option(casLogDir(table).listFiles())
        .getOrElse(Array()).toSeq
        .filter(_.getName.endsWith(".commit"))
      var vanished = false
      val lines = commits.flatMap { f =>
        val ls = readLines(f)
        if (ls.isEmpty && !f.exists()) { vanished = true; Nil } else ls
      }
      if (!vanished) {
        val referenced = (lines.filterNot(casIsMeta)
          .map(casCmdPath) ++ catReferencedPaths(table))
          .map(p => new File(p).getName).toSet
        val cutoff = System.currentTimeMillis() - minAgeMs
        val dataDir = new File(dir(table + "__data"))
        return Option(dataDir.listFiles()).getOrElse(Array()).toSeq
          .filter(d => d.isDirectory && !referenced(d.getName) &&
            d.lastModified() < cutoff)
          .map { d => delete(d); d.getPath }
      }
      attempt += 1
    }
    sys.error(s"casVacuum($table): commit files kept vanishing " +
      "mid-scan (concurrent casTruncate churn) across 8 attempts — " +
      "refusing to compute a reference set from torn listings")
  }

  /** LOG RETENTION — delete commit files the current snapshot no
    * longer replays: write a FRESH checkpoint (new format, TXN
    * summaries — so reads, batch dedup, and stats consults all stop
    * there), then drop every commit strictly below it, clamped so no
    * CATALOG-pinned snapshot loses its replay window. This is the
    * half of GC [[casVacuum]] alone cannot do: vacuum only reclaims
    * directories NO commit names, and an immortal log names every
    * directory forever. After truncation, replaced/compacted waves
    * fall out of the reference set and the next vacuum reclaims
    * them — Delta's logRetentionDuration discipline. Time travel
    * below the truncation point fails loudly by design
    * ([[casActiveCmdsAt]]); catalog pins keep THEIR windows alive via
    * the clamp, and so (by default) do REGISTERED incremental
    * maintainers ([[casSubscribe]]): their lagging cursors clamp the
    * floor the same way, because retiring a live maintainer's window
    * silently converts its next O(delta) run into an O(table)
    * refresh. `strandSubscribers = true` is the deliberate override
    * (retention pressure beats a wedged maintainer) — the maintainer
    * then sees [[CasCdfResult.Retired]] and degrades to the refresh
    * path instead of dying. `onLagging` fires with the
    * (stream, absorbed-version) pairs whose windows the pin-only
    * floor would retire — the warn half of the handshake, in BOTH
    * modes. Returns the number of commit files deleted.
    */
  def casTruncate(table: String, retries: Int = 8,
      strandSubscribers: Boolean = false,
      onLagging: Seq[(String, Int)] => Unit = _ => ()): Int = {
    val ck = casCheckpoint(table, retries)
    // registered incremental maintainers ([[casSubscribe]]): each
    // stream's absorbed source version, decoded from its rollup's
    // cursor. A maintainer at cursor c needs c's whole REPLAY window
    // [windowStart(c), head] to stay incremental — the CDF walk
    // resolves pre-rewrite snapshots (casActiveCmdsAt at n-1), whose
    // backward replay crosses below c down to its last REPLACE/CKPT
    // — exactly the clamp catalog pins already get.
    def subCursors(): Seq[(String, Int)] =
      casSubscribers(table).toSeq.map {
        case (stream, (part, rollup)) =>
          val c = casStreamCursor(rollup, stream)
          (stream, (part match {
            case "hi" => c >>> 32
            case "lo" => c & 0xffffffffL
            case _ => c
          }).toInt)
      }
    // a pinned snapshot at v replays [stopOf(v), v] — keep every
    // commit any pin's window still needs; by default extend the
    // same courtesy to registered maintainers' incremental windows
    // (strandSubscribers = the operator override: retire anyway and
    // let the maintainer's typed Retired verdict degrade it to a
    // refresh — [[casCdfFeed]])
    def pinFloor(): Int = catPinnedVersions(table) match {
      case vs if vs.isEmpty => ck
      case vs => math.min(ck, vs.map(casWindowStart(table, _)).min)
    }
    def floorNow(): Int =
      if (strandSubscribers) pinFloor()
      else subCursors().foldLeft(pinFloor()) {
        case (f, (_, cur)) => math.min(f, casWindowStart(table, cur))
      }
    val selected = floorNow()
    // TOCTOU narrowing against a concurrent [[catCommit]]: its pin
    // validation can pass BEFORE our first consult saw the pin, with
    // the pin publishing only after — re-read the pin set immediately
    // before deleting and honor any newly-published window. The
    // residual window is the re-read-to-delete gap; [[catCommit]]'s
    // own post-publish re-validation (the other half of the
    // handshake) turns anything that still slips through into a LOUD
    // error at the committer, and dead pins are excluded from every
    // later consult ([[catPinnedVersions]]), so retention and vacuum
    // stay healthy regardless.
    val floor = math.min(selected, floorNow())
    // the warn/refuse seam: every registered maintainer whose
    // incremental window the PIN-ONLY floor (what retention would do
    // absent subscribers) retires. With the default clamp these are
    // the lagging streams that held retention back (operational
    // signal: a wedged maintainer makes the log grow forever — fix
    // it or strand it deliberately); with strandSubscribers they are
    // the streams this call is about to strand into a refresh.
    onLagging(subCursors()
      .filter(s => casWindowStart(table, s._2) < pinFloor()))
    val deleted = (1 until floor).map(casCommitFile(table, _))
      .filter(_.exists())
    deleted.foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
    deleted.size
  }

  // the version where the backward replay of the snapshot at `v`
  // stops: its last REPLACE/CKPT commit, or 1
  private def casWindowStart(table: String, v: Int): Int = {
    var n = v
    while (n >= 1) {
      val ls = readLines(casCommitFile(table, n))
      if (ls.exists(l => casIsReplace(l) || l == "CKPT")) return n
      n -= 1
    }
    1
  }

  // ---- catalog: cross-table atomic commits -------------------------
  //
  // The multi-TABLE analogue of the per-table CAS log, matching the
  // reference's one-transaction warehouse build (BikesDWSQl.sql:202
  // commits every dim+fact load as a single T-SQL transaction): one
  // catalog commit file names a VERSION PIN for every table the
  // transaction wrote, published through the SAME hard-link CAS
  // primitive (tryCommitIn) as per-table commits. A catalog reader
  // resolves each table to its pinned version and replays that
  // table's own log bounded there — so a cross-table transaction is
  // visible BOTH-OR-NEITHER: either the catalog commit exists (every
  // pin it carries resolves) or it does not (no pin resolves). An
  // Iceberg-REST-style multi-table commit, on the same local-FS CAS.

  private def catLogDir: File = {
    val d = new File(root, "__catalog__log"); d.mkdirs(); d
  }

  /** Highest committed catalog version (0 = empty catalog). */
  def catHead: Int =
    Option(catLogDir.listFiles()).getOrElse(Array())
      .map(_.getName).filter(_.endsWith(".commit"))
      .flatMap(_.stripSuffix(".commit").toIntOption)
      .foldLeft(0)(math.max)

  /** ATOMIC CROSS-TABLE COMMIT: publish one catalog commit pinning
    * `writes` = (table, per-table version) — all-or-nothing by the
    * CAS (the commit file appears complete or not at all, never a
    * subset of its pins). Each pinned version must already be
    * committed in its table's own log (pins reference immutable
    * versions, so a lost CAS race retries with the SAME pins — no
    * recompute is ever needed, unlike [[casReplace]]). Returns the
    * catalog version.
    */
  def catCommit(writes: Seq[(String, Int)], retries: Int = 8,
      beforeCommit: () => Unit = () => ()): Int = {
    require(writes.nonEmpty, "catCommit: empty transaction")
    require(writes.map(_._1).distinct.size == writes.size,
      s"catCommit: duplicate table in ${writes.map(_._1)}")
    writes.foreach { case (t, v) =>
      require(v >= 1 && v <= casHead(t),
        s"catCommit: $t@$v is not a committed version (head ${casHead(t)})")
      // fail FAST on an unreadable snapshot: pinning a version whose
      // replay window a [[casTruncate]] already retired would poison
      // every later catReferencedPaths/casVacuum consult — surface
      // the error to THIS caller, before the pin publishes
      casActiveCmdsAt(t, v)
      ()
    }
    val lines = writes.map { case (t, v) => s"PIN $t $v" }
    var attempt = 0
    while (attempt < retries) {
      val n = catHead + 1
      beforeCommit()
      if (tryCommitIn(catLogDir, n, lines)) {
        // post-publish RE-validation — the other half of the
        // [[casTruncate]] TOCTOU handshake: a truncation that read
        // the pin set between our fail-fast check above and the CAS
        // win may have retired a pinned window. The commit file is
        // already published (unpublishing would tear the contiguous
        // catalog log), so the failure mode is made LOUD at the
        // committer: the caller knows its transaction's snapshot is
        // unreadable and must re-run against current heads. Every
        // later consult excludes the dead pin
        // ([[catPinnedVersions]]), so nothing downstream wedges.
        writes.foreach { case (t, v) =>
          if (!casWindowReadable(t, v))
            sys.error(s"catCommit: pin $t@$v published at catalog " +
              s"version $n but its replay window was concurrently " +
              "truncated — the pinned snapshot is unreadable; re-run " +
              "the transaction against current table heads")
        }
        return n
      }
      attempt += 1
    }
    throw new CommitConflict(
      s"catCommit(${writes.map(_._1).mkString(",")}): lost $retries races")
  }

  /** MONOTONE cross-table pin advance — [[catCommit]] for CONCURRENT
    * transaction writers of the SAME tables: each table's published
    * pin is max(requested, currently pinned), recomputed against the
    * catalog snapshot INSIDE every CAS attempt. The CAS gives this
    * linearizability: an attempt at catalog version n reads the
    * snapshot at n-1, and winning n proves no other commit landed
    * between the read and the win — so a concurrent writer's
    * already-pinned versions are always incorporated and pins can
    * never regress, the interleave raw [[catCommit]] cannot rule out
    * (two writers reading stale snapshots publish each other's
    * detail without its rollup; see
    * [[graft.streaming.StreamingEtl.catTxnBatch]]). Requested
    * versions are validated like [[catCommit]]'s; the snapshot side
    * needs no validation (whatever pinned it already validated).
    */
  def catCommitMax(writes: Seq[(String, Int)], retries: Int = 8,
      beforeCommit: () => Unit = () => ()): Int = {
    require(writes.nonEmpty, "catCommitMax: empty transaction")
    require(writes.map(_._1).distinct.size == writes.size,
      s"catCommitMax: duplicate table in ${writes.map(_._1)}")
    writes.foreach { case (t, v) =>
      require(v >= 1 && v <= casHead(t),
        s"catCommitMax: $t@$v is not a committed version " +
          s"(head ${casHead(t)})")
      casActiveCmdsAt(t, v)
      ()
    }
    var attempt = 0
    while (attempt < retries) {
      val head = catHead
      val snap = catSnapshot(head)
      val merged = writes.map { case (t, v) =>
        (t, math.max(v, snap.getOrElse(t, 0)))
      }
      beforeCommit()
      if (tryCommitIn(catLogDir, head + 1,
        merged.map { case (t, v) => s"PIN $t $v" })) {
        merged.foreach { case (t, v) =>
          if (!casWindowReadable(t, v))
            sys.error(s"catCommitMax: pin $t@$v published at catalog " +
              s"version ${head + 1} but its replay window was " +
              "concurrently truncated — the pinned snapshot is " +
              "unreadable; re-run the transaction against current " +
              "table heads")
        }
        return head + 1
      }
      attempt += 1
    }
    throw new CommitConflict(
      s"catCommitMax(${writes.map(_._1).mkString(",")}): " +
        s"lost $retries races")
  }

  /** The convenience transaction writer: CAS-append every table's
    * wave (each lands in its OWN log first — visible to direct
    * [[casRead]]ers immediately, to CATALOG readers only after the
    * pin), then publish one catalog commit pinning all of them.
    * `beforeCommit` fires between the last append and the catalog
    * CAS — the seam interleave specs inject a competitor into.
    * Returns (catalog version, per-table versions).
    */
  def catAppendAll(writes: Seq[(String, DataFrame)], retries: Int = 8,
      beforeCommit: () => Unit = () => ()): (Int, Map[String, Int]) = {
    val vs = writes.map { case (t, df) => (t, casAppend(df, t, retries)) }
    beforeCommit()
    (catCommit(vs, retries), vs.toMap)
  }

  /** MULTI-WRITER FULL REFRESH — the OCC form of [[overwrite]] (S6:
    * DELETE all + INSERT SELECT): stage the complete new state, CAS
    * a REPLACE commit at head+1. Unlike [[casReplace]] the content
    * does NOT derive from the current snapshot, so a lost race
    * retries with the SAME staged data — no recompute, no
    * staged-dir churn. Readers replay from this commit; prior waves
    * become history (reclaimable after [[casTruncate]]).
    *
    * `validate` runs once, after the write and before the first CAS:
    * the check of a gate folded into `df`'s plan
    * ([[Warehouse.constraintGate]]). If it throws, the staged
    * directory is deleted and the exception propagates; the head
    * does not move.
    */
  def casOverwrite(df: DataFrame, table: String, retries: Int = 8,
      beforeCommit: () => Unit = () => (),
      validate: () => Unit = () => ()): Int = {
    val staged = new File(new File(dir(table + "__data")),
      java.util.UUID.randomUUID().toString)
    df.write.mode("errorifexists").parquet(staged.getPath)
    try validate()
    catch { case e: Throwable => delete(staged); throw e }
    var attempt = 0
    while (attempt < retries) {
      val n = casHead(table) + 1
      beforeCommit()
      if (casTryCommit(table, n, Seq("REPLACE " + staged.getPath)))
        return n
      attempt += 1
    }
    delete(staged) // never committed — don't leave it for vacuum
    throw new CommitConflict(
      s"casOverwrite($table): lost $retries CAS races")
  }

  /** ATOMIC CROSS-TABLE FULL REFRESH — the reference's warehouse
    * REBUILD as one transaction (BikesDWSQl.sql truncates and
    * reloads every dim and fact inside a single commit): each
    * table's complete new state lands as its own REPLACE commit
    * ([[casOverwrite]]), then ONE catalog commit pins all of them —
    * catalog readers flip from the old consistent set to the new
    * consistent set with nothing in between. `beforeCommit` fires
    * between the last replace and the catalog CAS.
    */
  def catOverwriteAll(writes: Seq[(String, DataFrame)],
      retries: Int = 8,
      beforeCommit: () => Unit = () => ()): (Int, Map[String, Int]) = {
    val vs = writes.map { case (t, df) =>
      (t, casOverwrite(df, t, retries))
    }
    beforeCommit()
    (catCommit(vs, retries), vs.toMap)
  }

  /** The catalog snapshot at catalog version `asOf` (default: head):
    * each table resolved to its LATEST pin at or below `asOf`. A
    * BACKWARD scan (first pin seen per table wins = latest), stopping
    * at the first [[catCheckpoint]] commit — which carries the
    * complete map at its version — so resolution reads O(commits
    * since checkpoint), the same bound [[casActiveCmds]] gives table
    * reads.
    */
  def catSnapshot(asOf: Int = -1): Map[String, Int] = {
    val upTo = if (asOf < 0) catHead else asOf
    var m = Map.empty[String, Int]
    var n = upTo
    var atStop = false
    while (n >= 1 && !atStop) {
      val f = new File(catLogDir, f"$n%09d.commit")
      // a commit missing INSIDE the replay window means a
      // [[catTruncate]] retired this historical snapshot — fail
      // loudly rather than resolve a partial (wrong) map
      if (!f.exists())
        sys.error(s"catSnapshot($upTo): catalog commit $n is " +
          "missing (truncated catalog?) — snapshot unreadable")
      val ls = readLines(f)
      ls.filter(_.startsWith("PIN ")).foreach { l =>
        val p = l.split(" ", 3)
        if (!m.contains(p(1))) m += (p(1) -> p(2).toInt)
      }
      if (ls.contains("CCKPT")) atStop = true
      n -= 1
    }
    m
  }

  /** The catalog version a wall-clock instant resolves to — the
    * latest catalog commit whose `TS` is at or before `ts`
    * (O(log catalog commits) driver reads).
    */
  def catVersionAsOf(ts: Long): Int =
    versionAsOfIn(catLogDir, catHead, ts, s"catVersionAsOf($ts)")

  /** CATALOG LOG RETENTION — the [[casTruncate]] discipline one tier
    * up: write a fresh [[catCheckpoint]] (it carries the complete
    * resolved pin map), then delete every catalog commit strictly
    * below it. Catalog snapshots below the truncation point become
    * unreadable BY AN EXPLICIT RETENTION DECISION (and fail loudly —
    * [[catSnapshot]]); the pins those dead snapshots held no longer
    * protect data, so a following per-table [[casTruncate]] +
    * [[casVacuum]] can reclaim what only dead catalog history
    * referenced. Returns the number of commit files deleted.
    */
  def catTruncate(retries: Int = 8,
      afterFold: () => Unit = () => ()): Int = {
    // the truncation checkpoint's HISTORY summary is the PIN MAP
    // plus the pins of every commit a live TAG keeps alive: catalog
    // snapshots below the deletion floor become unreadable BY
    // RETENTION DECISION and their pins die with them — but a tagged
    // window survives the truncation, stays readable, and therefore
    // its table pins must ride the HSUM chain (the consult
    // [[catAllPins]] stops at this checkpoint and would otherwise
    // never see them, letting casTruncate/casVacuum reclaim data a
    // tagged release still resolves).
    // (A crash between this commit and the deletes below leaves the
    // dead-declared snapshots temporarily readable; their windows
    // are already fair game for per-table retention, and reads of a
    // reclaimed window fail loudly — re-run catTruncate to finish.)
    def liveTagFloor(): Int =
      catTags().values.toSeq.flatMap(catWindowStart) match {
        case Nil => Int.MaxValue
        case fs => fs.min
      }
    // one fold attempt; returns (checkpoint version, the tag floor
    // the fold actually consulted)
    def foldOnce(): (Int, Int) = {
      var usedFloor = Int.MaxValue
      val ck = catCheckpointWith(snap => {
        val hist = scala.collection.mutable.Map.empty[String, Set[Int]]
        snap.foreach { case (t, v) =>
          hist(t) = hist.getOrElse(t, Set.empty) + v
        }
        // pins of the commits a live tag's window keeps readable
        val floor = liveTagFloor()
        usedFloor = floor
        if (floor != Int.MaxValue) {
          var n = floor
          while (n <= catHead) {
            val f = new File(catLogDir, f"$n%09d.commit")
            if (f.exists()) readLines(f)
              .filter(l => l.startsWith("PIN ") || l.startsWith("HPIN "))
              .foreach { l =>
                val p = l.split(" ", 3)
                if (casWindowReadable(p(1), p(2).toInt))
                  hist(p(1)) = hist.getOrElse(p(1), Set.empty) + p(2).toInt
              }
            n += 1
          }
        }
        hist.toMap
      }, retries)
      (ck, usedFloor)
    }
    var (ck, usedFloor) = foldOnce()
    afterFold() // test seam: the fold-to-refold-check window
    // a tag published BETWEEN the fold and here can keep a catalog
    // window below the fold's floor alive (the narrowing below spares
    // its commits from deletion) — but its TABLE pins never entered
    // the new checkpoint's HSUM, and [[catAllPins]] stops there, so
    // per-table retention could reclaim data the tagged release still
    // resolves. RE-FOLD until no tag window predates the floor the winning
    // fold consulted: each re-fold reads the late tag's window and
    // carries its pins into a fresh (newer, and therefore consulted)
    // checkpoint.
    var refolds = 0
    while (liveTagFloor() < usedFloor && refolds < retries) {
      val r = foldOnce(); ck = r._1; usedFloor = r._2
      refolds += 1
    }
    if (liveTagFloor() < usedFloor)
      sys.error("catTruncate: tags kept publishing pre-floor windows " +
        s"across $retries re-folds — aborting before any deletion " +
        "(nothing was retired; re-run when tagging settles)")
    // z124 narrowing: honor any tag that published since the floor
    // was folded — re-read immediately before deleting
    val floor = math.min(ck, liveTagFloor())
    val deleted = (1 until floor)
      .map(n => new File(catLogDir, f"$n%09d.commit"))
      .filter(_.exists())
    deleted.foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
    deleted.size
  }

  /** CATALOG CHECKPOINT — fold the resolved pin map into ONE commit
    * (`CCKPT` marker + a PIN line per table), so [[catSnapshot]]'s
    * backward scan stops here: resolution cost becomes O(commits
    * since checkpoint) instead of O(catalog length). The commit also
    * carries the HISTORICAL pin summary (`HSUM` marker + an HPIN
    * line per (table, version) any LIVE catalog commit pins), so the
    * retention/vacuum consult ([[catPinnedVersions]]) gets the same
    * O(since-checkpoint) bound as resolution — the exact treatment
    * [[casTxnState]] gave batch dedup one tier down. Dead pins
    * (windows a truncation already retired) are dropped at fold
    * time: they protect nothing and must not ride forward forever.
    * Metadata-only (pins are tiny), published through the same CAS
    * as every catalog commit — a concurrent transaction between the
    * snapshot read and the CAS forces a retry, so a checkpoint can
    * never swallow a pin it did not include.
    */
  def catCheckpoint(retries: Int = 8): Int =
    catCheckpointWith(snap => {
      val hist = scala.collection.mutable.Map.empty[String, Set[Int]]
      catAllPins().foreach { case (t, v) =>
        if (casWindowReadable(t, v))
          hist(t) = hist.getOrElse(t, Set.empty) + v
      }
      snap.foreach { case (t, v) =>
        hist(t) = hist.getOrElse(t, Set.empty) + v
      }
      hist.toMap
    }, retries)

  // the shared checkpoint writer: `histOf` maps the resolved pin map
  // to the (table -> pinned versions) summary the HPIN lines carry —
  // full live history for an ordinary checkpoint, the pin map alone
  // for a truncation (see both call sites). Recomputed per CAS
  // attempt so a lost race can never fold a stale view.
  private def catCheckpointWith(
      histOf: Map[String, Int] => Map[String, Set[Int]],
      retries: Int): Int = {
    var attempt = 0
    while (attempt < retries) {
      val head = catHead
      val snap = catSnapshot(head)
      val pins = snap.toSeq.sortBy(_._1)
        .map { case (t, v) => s"PIN $t $v" }
      val hpins = histOf(snap).toSeq.sortBy(_._1).flatMap {
        case (t, vs) => vs.toSeq.sorted.map(v => s"HPIN $t $v")
      }
      if (tryCommitIn(catLogDir, head + 1,
        Seq("CCKPT", "HSUM") ++ pins ++ hpins))
        return head + 1
      attempt += 1
    }
    throw new CommitConflict(s"catCheckpoint: lost $retries CAS races")
  }

  /** Every (table, version) pin any LIVE catalog commit carries —
    * the backward scan behind [[catPinnedVersions]], bounded at the
    * first `HSUM`-carrying checkpoint (whose HPIN lines summarize
    * everything below, complete by induction: its own fold used this
    * scan). A LEGACY checkpoint (pre-HSUM) summarizes only the
    * resolved map, so the scan continues past it — the same
    * trust-the-summary-only-when-it-exists discipline as
    * [[casTxnState]]. A MISSING commit below head means a
    * [[catTruncate]] retired it: everything below is dead history
    * whose pins protect nothing — stop.
    */
  private def catAllPins(): Seq[(String, Int)] = {
    val acc = scala.collection.mutable.LinkedHashSet.empty[(String, Int)]
    var n = catHead
    var atStop = false
    while (n >= 1 && !atStop) {
      val f = new File(catLogDir, f"$n%09d.commit")
      if (!f.exists()) atStop = true
      else {
        val ls = readLines(f)
        ls.foreach { l =>
          if (l.startsWith("PIN ") || l.startsWith("HPIN ")) {
            val p = l.split(" ", 3)
            acc += ((p(1), p(2).toInt))
          }
        }
        if (ls.contains("CCKPT") && ls.contains("HSUM")) atStop = true
      }
      n -= 1
    }
    acc.toSeq
  }

  /** Whether version `v`'s replay window is still fully present in
    * `table`'s log — false once a [[casTruncate]] retired any commit
    * the backward replay of `v` needs. The liveness test behind
    * dead-pin exclusion and [[catCommit]]'s post-publish check.
    */
  private def casWindowReadable(table: String, v: Int): Boolean = {
    var n = v
    while (n >= 1) {
      val f = casCommitFile(table, n)
      if (!f.exists()) return false
      if (readLines(f).exists(l => casIsReplace(l) || l == "CKPT"))
        return true
      n -= 1
    }
    true
  }

  /** Catalog read: `table` AT its catalog-pinned version — the
    * snapshot a cross-table transaction published, NOT the table's
    * own (possibly newer) head. Concurrent per-table appends stay
    * invisible here until some transaction pins past them: that
    * staleness is the consistency — X and Y read at mutually
    * committed versions. Errors if the catalog never pinned `table`.
    */
  def catRead(spark: SparkSession, table: String,
      asOf: Int = -1): DataFrame =
    catSnapshot(asOf).get(table) match {
      case Some(v) => casReadAt(spark, table, v)
      case None => sys.error(
        s"catRead($table): not pinned by any catalog commit")
    }

  /** Every LIVE pinned version of `table` — versions some readable
    * catalog snapshot still resolves, so their replay windows stay
    * protected ([[casTruncate]] clamp, [[casVacuum]] references).
    * O(catalog commits since the last checkpoint): the backward scan
    * stops at the first HSUM checkpoint ([[catAllPins]]) instead of
    * reading `1 to catHead` — the consult [[casMaybeVacuum]] pays
    * every 16th commit must not grow with catalog age. DEAD pins
    * (replay window already retired — the poison a catCommit/
    * casTruncate TOCTOU can leave) are EXCLUDED: a dead pin's
    * snapshot is unreadable for every reader (loud [[casReadAt]]
    * error), so it protects nothing, and excluding it here is what
    * keeps retention and vacuum healthy instead of permanently
    * wedged on the first poison pin.
    */
  def catPinnedVersions(table: String): Seq[Int] =
    catAllPins().collect { case (t, v) if t == table => v }
      .distinct.filter(casWindowReadable(table, _))

  /** The data directories catalog pins of `table` resolve to — the
    * second root of the [[casVacuum]] reference set: per-table
    * truncation may have dropped the commits that originally named a
    * pinned wave, but the pin still makes it LIVE.
    */
  def catReferencedPaths(table: String): Seq[String] =
    catPinnedVersions(table)
      .flatMap(v => casActiveCmdsAt(table, v).map(casCmdPath))
      .distinct

  // ---- catalog tags (named dataset releases) ------------------------

  private def catTagDir: File = {
    val d = new File(dir("__catalog__tags")); d.mkdirs(); d
  }

  /** TAG a catalog version with a NAME — Iceberg tags / Delta named
    * snapshots: "training-run-2024-07" points at one immutable,
    * cross-table-consistent catalog snapshot forever. A tag is one
    * tiny immutable file published by the same hard-link
    * create-if-absent primitive as every commit (re-tagging a name
    * fails loudly — releases don't move; [[catDeleteTag]] first).
    * Retention honors tags: [[catTruncate]] clamps its deletion floor
    * so every live tag's replay window survives, and the tagged
    * snapshot's table pins keep protecting data through the HSUM
    * summary chain — a tagged release stays readable after any
    * amount of catalog/table retention (spec-pinned).
    *
    * TOCTOU discipline (the [[catCommit]]-vs-[[casTruncate]] z124
    * treatment, one tier up): catTag RE-validates the window after
    * the tag file lands and deletes it + fails loudly if a concurrent
    * catTruncate retired the window; catTruncate re-reads the tag
    * list immediately before deleting. A dead tag (window torn
    * anyway) is excluded from every retention consult — it protects
    * nothing and must not wedge truncation.
    */
  def catTag(name: String, v: Int = -1): Int = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"catTag($name): tag names are [A-Za-z0-9._-]+")
    val ver = if (v < 0) catHead else v
    require(ver >= 1 && ver <= catHead,
      s"catTag($name, $ver): version out of range 1..$catHead")
    require(catWindowStart(ver).isDefined,
      s"catTag($name, $ver): snapshot already truncated")
    val tmp = new File(catTagDir,
      ".tmp-" + java.util.UUID.randomUUID().toString)
    java.nio.file.Files.write(tmp.toPath,
      (ver.toString + "\n").getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    val tag = new File(catTagDir, name + ".tag")
    try {
      java.nio.file.Files.createLink(tag.toPath, tmp.toPath)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        sys.error(s"catTag($name): tag exists (tags are immutable — " +
          "catDeleteTag first)")
    } finally {
      java.nio.file.Files.deleteIfExists(tmp.toPath)
      ()
    }
    // z124 re-validation: a concurrent catTruncate that selected its
    // floor before this tag published may have retired the window —
    // a tag that can never resolve must fail AT THE TAGGER, loudly
    if (catWindowStart(ver).isEmpty) {
      java.nio.file.Files.deleteIfExists(tag.toPath)
      sys.error(s"catTag($name, $ver): snapshot truncated while " +
        "tagging — tag not created")
    }
    ver
  }

  /** All tags on disk, name → catalog version (dead tags included —
    * filter with [[catWindowStart]] for retention purposes).
    */
  def catTags(): Map[String, Int] =
    Option(catTagDir.listFiles()).getOrElse(Array())
      .filter(_.getName.endsWith(".tag"))
      .flatMap { f =>
        val ls = readLines(f)
        // list-then-read is not atomic: a tag deleted by a concurrent
        // [[catDeleteTag]] between the listing and the read comes back
        // empty with the file gone — that tag is simply ABSENT (the
        // same vanished-file discipline as [[casVacuum]]), not an
        // error; a tag file that EXISTS but holds no parseable version
        // is real corruption and stays loud
        if (ls.isEmpty && !f.exists()) None
        else Some(f.getName.stripSuffix(".tag") ->
          ls.headOption.flatMap(_.trim.toIntOption).getOrElse(
            sys.error(s"catTags: unreadable tag ${f.getName}")))
      }
      .toMap

  def catDeleteTag(name: String): Boolean =
    java.nio.file.Files.deleteIfExists(
      new File(catTagDir, name + ".tag").toPath)

  /** Read `table` at the snapshot a tag names — the "give me exactly
    * the dataset that trained run X" API.
    */
  def catReadTag(spark: SparkSession, table: String,
      tag: String): DataFrame =
    catRead(spark, table, asOf = catTags().getOrElse(tag,
      sys.error(s"catReadTag($tag): no such tag")))

  /** WAREHOUSE ROLLBACK to a tagged release — publish the tag's pin
    * map as one new catalog transaction ([[catCommit]] validates
    * every pin's replay window is still readable, so a rollback onto
    * retired data fails loudly at the committer). Head readers flip
    * to exactly the release's cross-table-consistent snapshot for
    * every table the release pinned; tables first pinned AFTER the
    * tag keep their current pins (the restore commit does not name
    * them, so resolution falls through to the newer history —
    * "restore what the release knew, leave the rest alone").
    * History is preserved: the bad versions stay time-travelable
    * between the tag and the restore commit. One tiny commit file
    * at any warehouse size.
    */
  def catRestoreTag(tag: String, retries: Int = 8): Int =
    catRestore(catTags().getOrElse(tag,
      sys.error(s"catRestoreTag($tag): no such tag")), retries)

  /** [[catRestoreTag]] for an explicit catalog version. */
  def catRestore(asOf: Int, retries: Int = 8): Int = {
    val pins = catSnapshot(asOf).toSeq.sortBy(_._1)
    require(pins.nonEmpty, s"catRestore($asOf): empty snapshot")
    catCommit(pins, retries)
  }

  /** The first catalog commit the snapshot at `v` replays (its
    * backward scan's stop point — the nearest CCKPT at-or-below, or
    * commit 1). None when the window is torn (a commit inside it was
    * truncated): that snapshot is dead for every reader.
    */
  private def catWindowStart(v: Int): Option[Int] = {
    var n = v
    while (n >= 1) {
      val f = new File(catLogDir, f"$n%09d.commit")
      if (!f.exists()) return None
      if (readLines(f).contains("CCKPT")) return Some(n)
      n -= 1
    }
    Some(1)
  }

  // ---- versioned snapshots (time travel) ---------------------------

  /** Write the next immutable snapshot `<table>@v{N}` and return N
    * (1-based). Old versions are never touched — time travel is just
    * reading an older directory, and the version list is the
    * directory listing (a real deployment's transaction log; the
    * convention here is the simplest thing that preserves the
    * semantics: snapshots are immutable, the latest is max(N)).
    */
  def writeVersion(df: DataFrame, table: String): Int = {
    val n = latestVersion(table).getOrElse(0) + 1
    df.write.mode("errorifexists").parquet(dir(s"$table@v$n"))
    n
  }

  def latestVersion(table: String): Option[Int] = {
    val prefix = s"$table@v"
    val vs = Option(new File(root).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith(prefix))
      .flatMap(n => n.stripPrefix(prefix).toIntOption)
    if (vs.isEmpty) None else Some(vs.max)
  }

  def readVersion(spark: SparkSession, table: String, v: Int): DataFrame =
    spark.read.parquet(dir(s"$table@v$v"))

  private def delete(f: File): Unit = {
    if (f.isDirectory) {
      val children = f.listFiles()
      // listFiles() is null if the dir vanished concurrently — nothing
      // left to delete in that case
      if (children != null) children.foreach(delete)
    }
    f.delete(); ()
  }

  // ---- partition evolution (layout generations) --------------------

  /** Write one LAYOUT GENERATION of a table — the partition-evolution
    * device (Iceberg's headline feature the hive layout lacks): each
    * generation owns a subdirectory and ITS OWN partitioning spec, so
    * changing how new data is laid out never rewrites closed
    * generations (at 100 TB, re-partitioning history is the cost
    * evolution exists to avoid). Spec-per-generation is recorded in a
    * sidecar line file for the reader.
    */
  def writeGeneration(df: DataFrame, table: String, gen: Int,
      partitionCols: Seq[String] = Nil): Unit = {
    val d = dir(s"$table@g$gen")
    if (partitionCols.isEmpty) df.write.mode("overwrite").parquet(d)
    else df.write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(d)
    writeLines(new File(dir(s"$table@g$gen.spec")),
      partitionCols)
  }

  private def generations(table: String): Seq[Int] =
    Option(new File(root).listFiles()).getOrElse(Array())
      .map(_.getName)
      .filter(n => n.startsWith(s"$table@g") && !n.endsWith(".spec"))
      .flatMap(_.stripPrefix(s"$table@g").toIntOption).toSeq.sorted

  /** Read ACROSS layout generations: each generation is scanned
    * under its own spec (hive-partitioned generations recover their
    * partition column from directory names — reads filtered on it
    * prune whole directories; unpartitioned generations carry it as
    * a data column), then the generations union BY NAME. A filtered
    * read is therefore partition-pruned on new data and
    * predicate-pushed on old — the exact mixed plan evolution buys
    * without rewriting a byte of history.
    */
  def readGenerations(spark: SparkSession, table: String): DataFrame =
    generations(table).map { g =>
      // non-numeric partition values come back STRING from dir
      // names, matching the data column's type in unpartitioned
      // generations; numeric partition keys would need a cast here
      spark.read
        .option("basePath", dir(s"$table@g$g"))
        .parquet(dir(s"$table@g$g"))
    }.reduce(_.unionByName(_))

  // ---- multi-table atomic commit ------------------------------------

  private def txnJournal(): File = new File(dir("__txn_journal.txt"))

  /** Roll a torn multi-table commit FORWARD (same device as
    * [[recoverWap]]): each SWAP line is completed from whatever point
    * it tore — staged still present → finish both renames; staged
    * gone → that table already landed. Trash dirs are then dropped
    * and the journal cleared. Idempotent from any crash point.
    */
  def recoverTransact(): Unit = {
    val jf = txnJournal()
    val lines = readLines(jf)
    if (lines.isEmpty) return
    // defensive parse: the atomic writeLines rename means a journal is
    // either complete or absent, but a journal written by an older
    // build (or hand-edited) must still not crash recovery — malformed
    // lines are skipped, well-formed swaps still roll forward
    val swaps = lines.collect {
      case l if l.startsWith("SWAP ") && l.split(" ", 4).length == 4 =>
        val Array(_, staged, tbl, trash) = l.split(" ", 4)
        (staged, tbl, trash)
    }
    swaps.foreach { case (staged, tbl, trash) =>
      val (sf, tf, rf) = (new File(staged), new File(tbl), new File(trash))
      if (sf.exists()) {
        if (tf.exists() && !rf.exists() && !tf.renameTo(rf))
          sys.error(s"txn recovery: cannot move $tbl aside")
        if (!tf.exists() && !sf.renameTo(tf))
          sys.error(s"txn recovery: cannot land $staged")
      }
    }
    swaps.foreach { case (_, _, trash) => delete(new File(trash)) }
    java.nio.file.Files.deleteIfExists(jf.toPath)
    ()
  }

  /** MULTI-TABLE ATOMIC COMMIT — publish a CONSISTENT snapshot across
    * several tables at once (the cross-table invariant every warehouse
    * eventually needs: a fact and its aggregate, or one user erased
    * from every table that knows them, may never be observable
    * half-done across a restart). All new states are fully WRITTEN to
    * txn staging dirs first — a crash during the expensive work leaves
    * every table untouched; then ONE journal records every swap, and
    * the swaps execute (rename current aside, land staged, drop the
    * old). A crash after the journal write is rolled FORWARD by
    * [[recoverTransact]] (called on entry here, so the next writer
    * heals the previous one) — after recovery ALL tables carry the new
    * snapshot, never a mix. Single-writer local-FS model, the same
    * contract as [[mergeOverwrite]]; an ACID table format replaces
    * the journal with its commit protocol, callers unchanged.
    */
  def transact(writes: Seq[(String, DataFrame)]): Unit = {
    require(writes.map(_._1).distinct.size == writes.size,
      "one write per table per transaction")
    recoverTransact()
    val plan = writes.map { case (tbl, df) =>
      val staged = dir(s"${tbl}__txn_staged")
      df.write.mode("overwrite").parquet(staged)
      (staged, dir(tbl), dir(s"${tbl}__txn_trash"))
    }
    writeLines(txnJournal(),
      plan.map { case (s, t, r) => s"SWAP $s $t $r" })
    recoverTransact()
  }

  // ---- generalized MERGE INTO --------------------------------------

  /** Three-clause MERGE (`WHEN MATCHED AND <deleteCond> THEN DELETE;
    * WHEN MATCHED THEN UPDATE SET <set…>; WHEN NOT MATCHED THEN
    * INSERT *`) — the full Delta/Iceberg MERGE surface the SCD merges
    * specialize ([[graft.ops.Scd.scd1Merge]] is the update+insert
    * subset). Clause order follows the standard: the delete predicate
    * is evaluated ONLY against MATCHED rows — an unmatched source row
    * satisfying it is still INSERTED (the matched-only scope trap;
    * spec-pinned). `deleteCond` and every `set` value are Column
    * expressions over the SOURCE row's plain column names, evaluated
    * on the source BEFORE the join, so callers never touch join
    * aliasing.
    *
    * Physical shape: ONE full-outer sort-merge join on the key (each
    * side shuffles exactly once — same plan class as q17's SCD1, see
    * PLANS.md), a linear per-row CASE projection, and the crash-safe
    * [[mergeOverwrite]] swap. No driver loops, no per-row round
    * trips; at 100 TB a bucketed layout on the key drops both
    * exchanges (saveBucketed exists for exactly that).
    */
  def mergeInto(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], set: Map[String, org.apache.spark.sql.Column],
      deleteCond: org.apache.spark.sql.Column): Unit = {
    import org.apache.spark.sql.functions._
    val target = read(spark, table)
    val cols = target.columns.toSeq
    // evaluate delete predicate and set-values against the bare
    // source row, then carry them through the join as reserved cols
    val src0 = source.withColumn("__del", deleteCond)
    val src = set.foldLeft(src0) { case (d, (c, v)) =>
      d.withColumn(s"__set_$c", v)
    }.withColumn("__s", lit(1))
      .select((keys.map(col) ++ cols.filterNot(keys.contains).map(col)
        ++ Seq(col("__del"), col("__s"))
        ++ set.keys.toSeq.map(c => col(s"__set_$c"))): _*)
      .toDF((keys ++ cols.filterNot(keys.contains).map("__src_" + _)
        ++ Seq("__del", "__s") ++ set.keys.toSeq.map("__set_" + _)): _*)
    val tgt = target.withColumn("__t", lit(1))
    val j = tgt.join(src, keys, "full_outer")
    val matched = col("__t").isNotNull && col("__s").isNotNull
    val srcOnly = col("__t").isNull
    // a NULL delete predicate must read as NOT-satisfied (Delta/Spark
    // MERGE semantics: the row is kept/updated) — without the coalesce,
    // `!(matched && NULL)` is NULL under three-valued logic and filter
    // would silently DROP the row
    val merged = j
      .filter(!(matched && coalesce(col("__del"), lit(false))))
      .select(cols.map { c =>
        val tv = if (keys.contains(c)) col(c) else col(c)
        val sv = if (keys.contains(c)) col(c) else col(s"__src_$c")
        val updated =
          if (set.contains(c)) when(matched, col(s"__set_$c")).otherwise(tv)
          else tv
        when(srcOnly, sv).otherwise(updated).as(c)
      }: _*)
    mergeOverwrite(merged, table)
  }

  // ---- write-audit-publish (WAP) -----------------------------------

  private def wapDir(table: String, branch: String): File =
    new File(dir(s"${table}__wap_$branch"))

  private def wapJournal(table: String, branch: String): File =
    new File(dir(s"${table}__wapj_$branch.txt"))

  /** WAP step 1 — WRITE: stage a wave on an invisible branch. The
    * staged files live OUTSIDE the table directory, so readers of the
    * table cannot observe the wave no matter how the stage ends.
    */
  def wapStage(df: DataFrame, table: String, branch: String): Unit =
    df.write.mode("overwrite").parquet(wapDir(table, branch).getPath)

  /** WAP step 2 — AUDIT: run the DQ gate over the staged wave AS IT
    * WOULD LAND — the uniqueness check runs on base ∪ staged, so a
    * wave that duplicates a key already published fails here, not in
    * production (checking the wave alone is the classic WAP hole).
    * Throws (via [[checkConstraints]]) on any violation; the branch
    * stays invisible.
    */
  def wapAudit(spark: SparkSession, table: String, branch: String,
      keys: Seq[String], notNull: Seq[String] = Nil): Unit = {
    val staged = spark.read.parquet(wapDir(table, branch).getPath)
    val combined =
      if (exists(table)) read(spark, table).unionByName(staged)
      else staged
    Warehouse.checkConstraints(combined, s"$table@$branch", keys, notNull)
    ()
  }

  /** Roll the WAP publish journal FORWARD (same device as
    * [[recoverRecluster]]): complete every `MV` whose target is
    * absent, then clear. Idempotent from any crash point.
    */
  def recoverWap(table: String, branch: String): Unit = {
    val jf = wapJournal(table, branch)
    val lines = readLines(jf)
    if (lines.isEmpty) return
    lines.foreach { l =>
      if (l.startsWith("MV ") && l.split(" ", 3).length == 3) {
        val Array(_, tmp, fin) = l.split(" ", 3)
        val (tf, ff) = (new File(tmp), new File(fin))
        if (!ff.exists() && tf.exists() && !tf.renameTo(ff))
          sys.error(s"wap recovery: cannot move $tmp to $fin")
      }
    }
    java.nio.file.Files.deleteIfExists(jf.toPath)
    ()
  }

  /** WAP step 3 — PUBLISH: move the audited branch's data files into
    * the table with a roll-forward journaled commit — journal the
    * intended moves first, then execute; a crash at any point is
    * completed by [[recoverWap]] on the next publish, and a crash
    * before the journal write leaves the table untouched (the wave is
    * simply still staged). File names are prefixed with the branch so
    * two branches can never collide. Returns files published. The
    * rename-per-file is atomic on a local FS; an ACID format replaces
    * the journal with its commit protocol, callers unchanged.
    */
  def wapPublish(table: String, branch: String): Int = {
    recoverWap(table, branch)
    val sd = wapDir(table, branch)
    val staged = Option(sd.listFiles()).getOrElse(Array())
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
    if (staged.isEmpty) return 0
    new File(dir(table)).mkdirs()
    val moves = staged.map(f => f.getAbsolutePath ->
      new File(dir(table), s"wap-$branch-${f.getName}").getAbsolutePath)
    writeLines(wapJournal(table, branch),
      moves.map { case (t, f) => s"MV $t $f" })
    recoverWap(table, branch)
    delete(sd)
    moves.size
  }
}

object Warehouse {

  /** Load-time constraint check — the Spark-native stand-in for the
    * reference DDL's declared PRIMARY KEY / NOT NULL constraints
    * (SQLserver Scripts/Createtables_BIKES.sql:40-118, e.g.
    * `customer_id` PK at :48): a parquet warehouse enforces nothing at
    * write time, so a dirty source would otherwise load silently and
    * corrupt every downstream SCD merge.
    *
    * One distributed aggregate job (map-side partial, no collect of
    * data rows): counts rows, rows violating NOT NULL on
    * `keys ++ notNull`, and distinct key tuples. Throws
    * IllegalStateException naming the table and violation counts;
    * returns `df` unchanged on success so it chains into the write.
    * Key uniqueness is checked as countDistinct(keys) == rows. Note
    * count(DISTINCT struct(keys)) DOES count tuples containing null
    * fields (struct(null) is non-null); the check is sound only because
    * the NOT NULL violation throws before the nk != n comparison runs,
    * so no null-keyed row ever reaches the uniqueness count.
    *
    * Its caller is the WAP audit ([[Warehouse.wapAudit]]), which
    * checks a staged wave before anything publishes it. The daily
    * refresh ([[graft.etl.Pipeline.runDailyCat]]) runs the same checks
    * inside each ODS table's write instead ([[constraintGate]]).
    */
  def checkConstraints(df: DataFrame, table: String, keys: Seq[String],
      notNull: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    val required = (keys ++ notNull).distinct
    // count(when(...)) not sum(when(...)): sum over ZERO rows is null,
    // and an empty batch (no new rows today) must pass the gate, not
    // NPE on Row.getLong
    val stats = df.agg(
      count(lit(1)).as("n"),
      count(when(anyNull(required), lit(1))).as("nulls"),
      countDistinct(struct(keys.map(col): _*)).as("nk")).head()
    val (n, nulls, nk) =
      (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    failOnViolation(table, keys, required, n, nulls, nk)
    df
  }

  /** [[checkConstraints]] folded into the plan that writes `df`: no
    * job of its own. Returns the frame to build the write on and the
    * check to run after that write ran (`casOverwrite`'s `validate`).
    *
    * The counts ride the write's own tasks: `Dataset.observe` counts
    * rows, rows with a NULL in `keys ++ notNull`, and rows numbered
    * past the first of their key by `row_number()` over the key
    * partition, so distinct keys = rows − those. The window's key
    * shuffle is the one a merge on the same keys needs, so a merge
    * downstream shuffles the batch once. The check throws
    * [[checkConstraints]]'s exceptions, word for word.
    *
    * One write per gate: the observation completes with the first
    * execution of the returned frame, and the check reads that one.
    */
  def constraintGate(df: DataFrame, table: String, keys: Seq[String],
      notNull: Seq[String] = Nil): (DataFrame, () => Unit) = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val required = (keys ++ notNull).distinct
    val obs = Observation()
    val rn = "__gate_rn"
    val gated = df
      .withColumn(rn, row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(keys.map(col): _*)))
      .observe(obs, count(lit(1)).as("n"),
        count(when(anyNull(required), lit(1))).as("nulls"),
        count(when(col(rn) > 1, lit(1))).as("dups"))
      .drop(rn)
    def check(): Unit = {
      val m = obs.get.view.mapValues(_.asInstanceOf[Long])
      failOnViolation(table, keys, required, m("n"), m("nulls"),
        m("n") - m("dups"))
    }
    (gated, check _)
  }

  private def anyNull(cols: Seq[String]): Column = {
    import org.apache.spark.sql.functions._
    cols.map(col(_).isNull).reduceOption(_ || _).getOrElse(lit(false))
  }

  private def failOnViolation(table: String, keys: Seq[String],
      required: Seq[String], n: Long, nulls: Long, nk: Long): Unit = {
    if (nulls > 0)
      throw new IllegalStateException(
        s"$table: $nulls row(s) violate NOT NULL on " +
          required.mkString("(", ", ", ")"))
    if (nk != n)
      throw new IllegalStateException(
        s"$table: primary key ${keys.mkString("(", ", ", ")")} has " +
          s"${n - nk} duplicate row(s) ($n rows, $nk distinct keys)")
  }
}

/** Result of a hierarchical (two-level) manifest consult: the kept
  * data files plus the read-cost accounting the structure exists for —
  * `fileRowsPulled` is the driver's file-grain read, bounded by the
  * SURVIVING groups' sizes rather than the table's total file count.
  */
private[sources] final case class TwoLevelResult(kept: Seq[String],
    filesTotal: Int, groupsTotal: Int, groupsKept: Int,
    fileRowsPulled: Int)
