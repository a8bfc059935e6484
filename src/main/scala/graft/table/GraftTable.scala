package graft.table

import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import GraftIO.RichHPath

/** One WHEN clause of a general MERGE: an optional guard condition, a
  * delete flag (WHEN ... THEN DELETE), and the SET/VALUES assignments.
  * Columns reference the target side as `__graft_t.<col>` and the source
  * side as `__graft_s.<col>` (GraftTable.mergeInto aliases both sides). */
case class RowAction(
    condition: Option[Column],
    delete: Boolean,
    assigns: Seq[(String, Column)])

/** Result of a metadata-only aggregation (GraftTable.metaAggregate):
  * exact row count plus per-column min/max in the manifest's rendered
  * string space (parse back via the column's sparkType). */
case class MetaAgg(rows: Long, minMax: Map[String, ColRange])

/** A Graft-format table: versioned parquet + JSON metadata giving the
  * reference's Iceberg v2 capabilities (SURVEY.md §2 B–D, H) on stock
  * Spark. All relational execution stays in Catalyst/Tungsten — this
  * layer only decides WHICH files a scan sees and how their columns map
  * to the current schema.
  *
  * Scale notes: appends cluster by the hidden partition transform
  * (one `partitionBy` write — no per-partition jobs); deletes are
  * copy-on-write but rewrite ONLY the files that contain matching rows
  * (found with one pruned scan over `input_file_name`); planning touches
  * metadata, never data. Snapshot isolation is structural: manifests are
  * immutable per snapshot.
  */
final class GraftTable(val dir: HPath) {

  /** Local-path convenience (tests, tools). */
  def this(dir: java.nio.file.Path) = this(GraftIO.fromNio(dir))

  /** Local-filesystem view of `dir` for `file://` tables — tests and
    * tools that assert physical layout. Throws for remote schemes. */
  def localDir: java.nio.file.Path = GraftIO.toNio(dir)

  def meta: TableMeta = TableMeta.load(dir)._2

  // ---------------------------------------------------------------- read

  /** C2 current-snapshot read (README.md:216). */
  def read(spark: SparkSession): DataFrame = {
    val m = meta
    readSnapshot(spark, m, m.currentSnapshot)
  }

  /** C3 time travel — `VERSION AS OF <snapshot_id>` (README.md:255-258). */
  def readVersion(spark: SparkSession, snapshotId: Long): DataFrame = {
    val m = meta
    readSnapshot(spark, m, Some(m.snapshot(snapshotId)))
  }

  /** C3 time travel — `TIMESTAMP AS OF`: the latest snapshot committed at
    * or before the given epoch-millis instant. */
  def readAsOf(spark: SparkSession, tsMillis: Long): DataFrame = {
    val m = meta
    readSnapshot(spark, m, Some(snapshotAsOf(m, tsMillis)))
  }

  /** The snapshot id TIMESTAMP AS OF would resolve to (for SQL wiring). */
  def snapshotIdAsOf(tsMillis: Long): Long = snapshotAsOf(meta, tsMillis).snapshotId

  private def snapshotAsOf(m: TableMeta, tsMillis: Long): Snapshot =
    m.snapshots.filter(_.timestampMs <= tsMillis)
      .sortBy(_.snapshotId).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot of ${m.name} at or before $tsMillis"))

  /** Per-file view of a current-schema column: the column as file `f`'s
    * written schema holds it (same column id), or None when the file
    * predates the column. Manifest stats, null counts and Bloom entries
    * are keyed by the name a column had when its file was written, so
    * every planner looks them up through this: a renamed or re-added
    * column never borrows another column's entries. */
  private def writtenColumn(m: TableMeta): (DataFile, String) => Option[ColumnDef] = {
    val current = m.currentSchema.map(c => c.name -> c.id).toMap
    val bySchema = scala.collection.mutable.Map.empty[Int, Map[Int, ColumnDef]]
    (f, name) => current.get(name).flatMap(id =>
      bySchema.getOrElseUpdate(f.schemaId, m.schemaAt(f.schemaId).map(c => c.id -> c).toMap)
        .get(id))
  }

  /** Current-schema column names whose stats compare as numbers
    * (`FilterBounds.compare`'s `numeric` flag). */
  private def numericColumns(m: TableMeta): Set[String] =
    m.currentSchema.filter(_.sparkType.isInstanceOf[NumericType]).map(_.name).toSet

  /** The table's one file planner: prune the current manifest with
    * DataSource `Filter`s (the predicates Spark pushes through
    * SupportsPushDownFilters), combining per-file column stats, null
    * counts, hidden-partition values and Bloom sidecars. Conservative:
    * only conjunctive range/equality/nullness predicates prune; anything
    * else keeps the file. Each conjunct's bound is checked on its own,
    * which is exactly the check of their intersection. Callers re-apply
    * every filter (Spark does for pushed ones), so pruning is an
    * optimization, never semantics. */
  def planFilters(m: TableMeta, filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[DataFile] = {
    val all = m.currentSnapshot.map(_.manifest).getOrElse(Nil)
    val bounds = FilterBounds.collect(filters)
    val nullness = FilterBounds.collectNullness(filters)
    if (bounds.isEmpty && nullness.isEmpty) return all
    val eqLiterals = FilterBounds.collectEquals(filters)
    // partition source column name -> its transform field
    val partFields = m.partitionFields.flatMap(pf =>
      m.currentSchema.find(_.id == pf.sourceId).map(c => c.name -> pf)).toMap
    val numeric = numericColumns(m)
    val written = writtenColumn(m)
    all.filter { f =>
      // the name this file's stats, null counts and Bloom keys use
      def key(cname: String): Option[String] = written(f, cname).map(_.name)
      // Null-count pruning: an all-null file can't satisfy IS NOT NULL,
      // a null-free file can't satisfy IS NULL. Spark pushes IsNotNull
      // alongside almost every predicate, so at scale this skips the
      // sparse-column files without opening them.
      val nullsOk = nullness.forall { case (cname, mustBeNull) =>
        key(cname).flatMap(n => f.nulls.flatMap(_.get(n))) match {
          case Some(nc) => if (mustBeNull) nc > 0 else nc < f.rows
          case None => true
        }
      }
      nullsOk && bounds.forall { case (cname, b) =>
        def lte(a: String, bb: String): Boolean =
          FilterBounds.compare(numeric(cname), a, bb) <= 0
        val statsOk = key(cname).flatMap(n => f.stats.flatMap(_.get(n))) match {
          case Some(ColRange(mn, mx)) =>
            b.lo.forall(lo => lte(lo, mx)) && b.hi.forall(hi => lte(mn, hi))
          case None => true
        }
        // Hidden-partition pruning, per transform (Transforms.keepFile
        // holds the order/equality proofs + the timezone widening guard).
        val partOk = partFields.get(cname)
          .flatMap(pf => f.partitionValues.get(pf.name).map(pf -> _)) match {
          case Some((pf, pv)) =>
            Transforms.keepFile(pf.transform, pv, b, eqLiterals.get(cname),
              numeric(cname), (a, bb) => FilterBounds.compare(numeric = false, a, bb) <= 0)
          case None => true
        }
        // Point-lookup skipping: a per-file Bloom sidecar answers
        // "definitely not here" for pushed equality literals — the prune
        // min/max can't make once file key ranges overlap. Loaded lazily
        // (only for files that survive the other checks) and cached.
        val bloomOk = (f.bloom, eqLiterals.get(cname), key(cname)) match {
          case (Some(ref), Some(v), Some(n)) =>
            BloomSidecar.read(dir.resolve(ref)).get(n) match {
              case Some(bf) => BloomSidecar.mightContain(bf, v)
              case None => true
            }
          case _ => true
        }
        statsOk && partOk && bloomOk
      }
    }
  }

  /** Current-snapshot live rows (MoR deletes applied) of the files
    * `planFilters` keeps for `filters` — the DSv2 scan body. It only
    * prunes FILES: kept files return all their live rows, so the caller
    * must still apply the predicate (Spark does for pushed filters). */
  def readPruned(spark: SparkSession, filters: Seq[org.apache.spark.sql.sources.Filter]): DataFrame = {
    val m = meta
    readLive(spark, m, m.currentSnapshot, planFilters(m, filters))
      .drop("_graft_fp", "_graft_pos")
  }

  /** Metadata-only aggregation: COUNT(*) plus per-column MIN/MAX
    * answered ENTIRELY from manifest statistics — zero data-file IO.
    * This is the O(metadata) fast path big tables rely on: at 100 TB a
    * COUNT(*) scan costs executor-hours while the manifest answer is
    * driver-side milliseconds (Iceberg serves the same aggregates from
    * its manifests). MetaAggSpec proves the no-IO property by deleting
    * every data file and asking again.
    *
    * Soundness guards (None → caller must fall back to a real scan):
    *  - any positional or equality delete file, or deletion vector, in
    *    the current snapshot makes manifest row counts an overcount (and
    *    min/max may name deleted extrema) → whole result is None;
    *  - a column's min/max is reported only when EVERY data file carries
    *    stats for it (a stats-less file could hide the true extremum —
    *    all-null and unsupported-encoding files are indistinguishable
    *    in the manifest);
    *  - string columns are ineligible: parquet writers may truncate
    *    binary min/max, which is safe for conservative pruning but not
    *    for exact answers. */
  def metaAggregate(cols: Seq[String]): Option[MetaAgg] = {
    val m = meta
    m.currentSnapshot match {
      case None => Some(MetaAgg(0L, Map.empty))
      case Some(snap) =>
        if (snap.deleteFiles.exists(_.nonEmpty) ||
            snap.eqDeleteFiles.exists(_.nonEmpty) ||
            snap.deleteVectors.exists(_.nonEmpty)) return None
        val files = snap.manifest
        val written = writtenColumn(m)
        val numeric = numericColumns(m)
        val minMax = cols.flatMap { cname =>
          m.currentSchema.find(_.name == cname).flatMap { cd =>
            cd.sparkType match {
              case StringType => None
              case _ =>
                val ranges = files.map(f =>
                  written(f, cname).flatMap(w => f.stats.flatMap(_.get(w.name))))
                if (files.nonEmpty && ranges.forall(_.isDefined)) {
                  val rs = ranges.flatten
                  def lo(a: String, b: String) =
                    if (FilterBounds.compare(numeric(cname), a, b) <= 0) a else b
                  def hi(a: String, b: String) =
                    if (FilterBounds.compare(numeric(cname), a, b) >= 0) a else b
                  Some(cname -> ColRange(
                    rs.map(_.min).reduce(lo), rs.map(_.max).reduce(hi)))
                } else None
            }
          }
        }.toMap
        Some(MetaAgg(files.map(_.rows).sum, minMax))
    }
  }

  /** C4 `SELECT * FROM t.history` (README.md:245-248). */
  def history(spark: SparkSession): DataFrame = {
    val m = meta
    val rows = m.snapshots.map(s =>
      (new Timestamp(s.timestampMs), s.snapshotId, s.parentId,
        s.operation, s.manifest.size.toLong, s.manifest.map(_.rows).sum,
        m.currentSnapshotId.contains(s.snapshotId)))
    spark.createDataFrame(rows).toDF(
      "made_current_at", "snapshot_id", "parent_id", "operation",
      "n_files", "n_rows", "is_current")
  }

  /** Iceberg-style metadata tables (`SELECT * FROM t.history` etc.,
    * README.md:245-248): pure driver-side derivations from TableMeta —
    * metadata-sized, never a data scan. */
  def metaTable(spark: SparkSession, kind: String): DataFrame = kind match {
    case "history" => history(spark)
    case "snapshots" =>
      val m = meta
      val rows = m.snapshots.map(s =>
        (new Timestamp(s.timestampMs), s.snapshotId, s.parentId, s.operation,
          s.manifest.size.toLong, s.manifest.map(_.rows).sum,
          s.allDeleteFiles.size.toLong))
      spark.createDataFrame(rows).toDF(
        "committed_at", "snapshot_id", "parent_id", "operation",
        "n_files", "n_rows", "n_delete_files")
    case "files" =>
      val m = meta
      val snap = m.currentSnapshot
      val rows =
        snap.map(_.manifest).getOrElse(Nil).map(f =>
          ("data", f.path, f.rows, f.schemaId, f.partitionValues,
            f.sizeBytes.getOrElse(-1L))) ++
        snap.map(_.allDeleteFiles).getOrElse(Nil).map(f =>
          ("position_deletes", f.path, f.rows, f.schemaId, f.partitionValues,
            f.sizeBytes.getOrElse(-1L))) ++
        snap.map(_.allEqDeleteFiles).getOrElse(Nil).map(f =>
          ("equality_deletes", f.path, f.rows, 0,
            Map("columns" -> f.columns.mkString(",")), -1L)) ++
        snap.map(_.allDeleteVectors).getOrElse(Nil).map(d =>
          ("deletion_vector", d.path, d.cardinality, 0,
            Map("data_file" -> d.dataPath), -1L))
      spark.createDataFrame(rows).toDF(
        "content", "file_path", "n_rows", "schema_id", "partition_values",
        "size_bytes")
    case "partitions" =>
      // per-partition summary of the current snapshot (Iceberg's
      // `.partitions`): one row per partition value, file + row counts.
      // Unpartitioned tables collapse to a single "" row. No .manifests
      // equivalent: Graft inlines the manifest in the metadata document,
      // so .files IS the manifest listing.
      val m = meta
      val pfNames = m.partitionFields.map(_.name)
      val rows = m.currentSnapshot.map(_.manifest).getOrElse(Nil)
        .groupBy(f => pfNames.map(n => f.partitionValues.getOrElse(n, "")).mkString("/"))
        .toSeq.map { case (pv, fs) =>
          (pv, fs.size.toLong, fs.map(_.rows).sum) }
        .sortBy(_._1)
      spark.createDataFrame(rows).toDF("partition_value", "n_files", "n_rows")
    case "refs" =>
      val rows = meta.allRefs.toSeq
        .map { case (n, r) => (n, if (r.branch) "branch" else "tag", r.snapshotId) }
        .sortBy(_._1)
      spark.createDataFrame(rows).toDF("name", "type", "snapshot_id")
    case other =>
      throw new IllegalArgumentException(
        s"unknown metadata table $other (history | snapshots | files | partitions | refs)")
  }

  /** Live rows of `snap` under the current schema. A snapshot without
    * delete files of any kind reads its files without row positions. */
  private def readSnapshot(spark: SparkSession, m: TableMeta, snap: Option[Snapshot]): DataFrame =
    snap match {
      case Some(s) if s.allDeleteFiles.nonEmpty || s.allEqDeleteFiles.nonEmpty ||
          s.allDeleteVectors.nonEmpty =>
        readLive(spark, m, snap, s.manifest).drop("_graft_fp", "_graft_pos")
      case _ => readFiles(spark, m, snap.map(_.manifest).getOrElse(Nil))
    }

  /** Anti-join away equality-deleted rows: for each equality delete file,
    * rows whose key tuple matches AND whose data file is OLDER than the
    * delete (seq guard — later appends of the key stay live). The
    * file→seq lookup is manifest-sized and broadcast; key files are tiny
    * by construction (the keys of one delete commit) and broadcast too —
    * no shuffle enters the plan. `base` must carry _graft_fp. */
  private def applyEqDeletes(spark: SparkSession, snap: Snapshot, base: DataFrame): DataFrame = {
    val eds = snap.allEqDeleteFiles
    if (eds.isEmpty) return base
    import spark.implicits._
    // Join key = the table-relative path ("w-xxx/part-....parquet"): the
    // manifest records relative paths while _metadata.file_path is a URI
    // whose scheme/authority rendering varies — the suffix after this
    // table's data/ dir is identical on both sides by construction.
    // Normalize EXACTLY like the read side (suffix after the LAST
    // "/data/"): a clone's borrowed files carry ABSOLUTE manifest paths,
    // and a raw stripPrefix("data/") would miss them in the lookup →
    // coalesce to seq 0 → eq-deletes wrongly re-apply to files appended
    // AFTER the delete (silently dropping live rows on clone reads).
    def relKey(p: String): String = dataSuffix(p)
    val lookup = broadcast(
      snap.manifest.map(f => (relKey(f.path), f.seq.getOrElse(0L)))
        .toDF("_graft_rel", "_graft_seq"))
    val withSeq = base
      .withColumn("_graft_rel", substring_index(col("_graft_fp"), "/data/", -1))
      .join(lookup, Seq("_graft_rel"), "left")
      // a row whose file misses the lookup gets seq 0 = "old" — errs
      // toward applying the delete, matching the legacy-file rule;
      // TableSpec pins both directions of the guard
      .withColumn("_graft_seq", coalesce(col("_graft_seq"), lit(0L)))
      .drop("_graft_rel")
    eds.foldLeft(withSeq) { (acc, ed) =>
      val keys = eqDeleteKeys(spark, ed)
      val cur = eqDeleteCurrentNames(ed)
      val cond = cur.map(c => acc(c) <=> keys(c)).reduce(_ && _) &&
        acc("_graft_seq") < lit(ed.seq)
      acc.join(broadcast(keys), cond, "left_anti")
    }.drop("_graft_seq")
  }

  /** Suffix after the LAST "/data/" — the normalization shared by the
    * eq-delete seq lookup and the positional-delete anti-join. A clone's
    * borrowed absolute paths and writer-relative paths agree on it. */
  private def dataSuffix(p: String): String = {
    val i = p.lastIndexOf("/data/")
    if (i >= 0) p.substring(i + "/data/".length) else p.stripPrefix("data/")
  }

  /** Delete matching keys on dataSuffix, so two DISTINCT manifest files
    * sharing a suffix (possible only via externally-registered absolute
    * paths whose basename collides with a writer file) would cross-apply
    * each other's deletes at equal positions — silent row loss. Enforced
    * before every delete-record commit; manifest-sized, driver-side. */
  private def requireUniqueSuffixes(manifest: Seq[DataFile],
      op: String = "delete"): Unit = {
    val dup = manifest.groupBy(f => dataSuffix(f.path)).filter(_._2.size > 1)
    require(dup.isEmpty,
      s"$op refused: data files share a post-/data/ path suffix " +
        s"(${dup.keys.take(3).mkString(", ")}) — rewriteDataFiles first")
  }

  /** An equality delete's key columns resolved to CURRENT schema names
    * (id-indirected, like every other read): a rename between the delete
    * and the read must not break — or silently un-apply — the delete. */
  private def eqDeleteCurrentNames(ed: EqDeleteFile): Seq[String] = {
    val m = meta
    ed.columnIds match {
      case Some(ids) => ids.zip(ed.columns).map { case (id, written) =>
        m.currentSchema.find(_.id == id).map(_.name).getOrElse(written)
      }
      case None => ed.columns // legacy entry: name-based
    }
  }

  /** The delete's key tuples with columns RENAMED to current names. */
  private def eqDeleteKeys(spark: SparkSession, ed: EqDeleteFile): DataFrame = {
    val cur = eqDeleteCurrentNames(ed)
    spark.read.parquet(dir.resolve(ed.path).toString)
      .select(ed.columns.zip(cur).map { case (w, c) => col(w).as(c) }: _*)
      .dropDuplicates()
  }

  /** The snapshot's merge-on-read delete entries as (_graft_dfp,
    * _graft_pos), or None when it has no delete files. File paths were
    * recorded from `_metadata.file_path` at delete time; the join key
    * is the suffix after the table's "/data/" dir (the applyEqDeletes
    * normalization) so entries keep applying when the physical
    * location legitimately moves — a deep clone byte-copies data AND
    * delete files, and the relative layout is what both sides share.
    * Entries over externally-registered files (no "/data/" in the
    * URI) fall back to the full recorded URI, which only matches while
    * the file stays in place — deepCloneTo refuses that combination
    * loudly. */
  private def deleteEntries(spark: SparkSession, snap: Snapshot): Option[DataFrame] = {
    val dels = snap.allDeleteFiles
    val posDf =
      if (dels.isEmpty) None
      else Some(
        spark.read.parquet(dels.map(f => dir.resolve(f.path).toString): _*)
          .select(substring_index(col("file_path"), "/data/", -1).as("_graft_dfp"),
            col("pos").as("_graft_pos")))
    (posDf, dvEntries(spark, snap.allDeleteVectors)) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b)             => a.orElse(b)
    }
  }

  /** Deletion vectors decoded to the same (_graft_dfp, _graft_pos) shape
    * the positional anti-join consumes. Decode is DISTRIBUTED — one task
    * per vector, positions never gather on the driver (a predicate
    * delete can mark billions of positions at 100 TB; the vector LIST is
    * manifest-sized and fine to ship). */
  private def dvEntries(spark: SparkSession, dvs: Seq[DeleteVector]): Option[DataFrame] = {
    if (dvs.isEmpty) return None
    import spark.implicits._
    val dirStr = dir.toString
    val pairs = dvs.map(d => (dataSuffix(d.dataPath), d.path))
    Some(spark.createDataset(pairs)
      .flatMap { case (sfx, rel) =>
        Dv.read(new HPath(dirStr).resolve(rel)).map(p => (sfx, p)) }
      .toDF("_graft_dfp", "_graft_pos"))
  }

  /** The one live-row reader: rows of `files` with `snap`'s
    * merge-on-read deletes applied — positional files and deletion
    * vectors by a (file, position) anti-join, then equality deletes —
    * KEEPING the _graft_fp/_graft_pos helper columns (CoW ops use
    * _graft_fp for affected-file detection; callers must drop/project
    * them away). `snap` is the snapshot whose deletes apply: the current
    * one for reads and writes, an older one for time travel and the
    * changelog.
    *
    * With `lineage`, rows also carry v3 row lineage resolved BEFORE the
    * deletes: `_graft_row_id` / `_graft_last_seq` are the materialized
    * values when the file has them, else the firstRowId+position /
    * file-seq derivation. Lineage-preserving rewrites feed writeFiles
    * from this so row identity survives the rewrite physically. */
  private def readLive(spark: SparkSession, m: TableMeta, snap: Option[Snapshot],
      files: Seq[DataFile], lineage: Boolean = false): DataFrame = {
    if (files.isEmpty) return readFiles(spark, m, Nil, lineage = lineage)
    val read = readFiles(spark, m, files, withPos = true, lineage = lineage)
    val base = if (!lineage) read else {
      // The suffix-keyed lineage lookup below fans out (DUPLICATING every
      // row through CoW delete/update/rewrite) if two manifest entries
      // share a post-/data/ suffix — refuse loudly, like the MoR paths do.
      requireUniqueSuffixes(files, op = "lineage-preserving rewrite")
      // manifest-sized broadcast: per-file firstRowId + seq feed the
      // derivation for rows whose file has no materialized lineage
      val lkRows = files.map(f =>
        (dataSuffix(f.path), f.firstRowId.getOrElse(-1L), f.seq.getOrElse(0L)))
      val lk = broadcast(spark.createDataFrame(lkRows)
        .toDF("_graft_rel", "_graft_frid", "_graft_fseq"))
      read
        .withColumn("_graft_rel", substring_index(col("_graft_fp"), "/data/", -1))
        // LEFT join, like the eq-delete seq lookup: an externally-
        // registered absolute path (add_files) has no "/data/" suffix and
        // its scan URI renders with a scheme the manifest path lacks — an
        // inner join would silently DROP those rows from every lineage-
        // preserving rewrite (caught by q_table_addf_cow's oracle); left
        // keeps them with NULL lineage ("unknown identity" is honest for
        // borrowed files, losing rows is not)
        .join(lk, Seq("_graft_rel"), "left")
        .withColumn("_graft_row_id",
          coalesce(col("_graft_row_id"),
            when(col("_graft_frid") >= 0, col("_graft_frid") + col("_graft_pos"))))
        .withColumn("_graft_last_seq",
          coalesce(col("_graft_last_seq"), col("_graft_fseq")))
        .drop("_graft_rel", "_graft_frid", "_graft_fseq")
    }
    snap.fold(base) { s =>
      val posApplied = deleteEntries(spark, s).fold(base)(d => base
        .withColumn("_graft_dfp", substring_index(col("_graft_fp"), "/data/", -1))
        .join(d, Seq("_graft_dfp", "_graft_pos"), "left_anti")
        .drop("_graft_dfp"))
      applyEqDeletes(spark, s, posApplied)
    }
  }

  /** Read a set of data files, resolving each file's columns to the
    * CURRENT schema by column id: renamed columns pick up their new name
    * (README.md:282-292), columns added after the file was written read
    * as NULL (README.md:269-276). Files are grouped by the schema they
    * were written under; one scan per schema epoch, then unionByName. */
  private def readFiles(
      spark: SparkSession, m: TableMeta, files: Seq[DataFile],
      withPos: Boolean = false, lineage: Boolean = false): DataFrame = {
    val current = m.currentSchema
    // reserved physical lineage columns: present only in files a
    // lineage-preserving rewrite materialized; declared in the read
    // schema so plain files surface them as NULL and the consumer
    // coalesces to the firstRowId+pos / file-seq derivation
    def readSchema(sid: Int): StructType =
      if (!lineage) m.sparkSchema(sid)
      else m.sparkSchema(sid)
        .add(StructField("_graft_row_id", LongType))
        .add(StructField("_graft_last_seq", LongType))
    if (files.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), readSchema(m.currentSchemaId))
    val groups = files.groupBy(_.schemaId)
    groups.map { case (sid, fs) =>
      val writeSchema = m.schemaAt(sid)
      val byId = writeSchema.map(c => c.id -> c).toMap
      val projection = current.map { c =>
        byId.get(c.id) match {
          case Some(w) => col(w.name).cast(c.sparkType).as(c.name)
          // column added after this file was written: rows read the
          // column's initial-default (v3 default values), else NULL
          case None    => absentValue(c).as(c.name)
        }
      } ++ (if (withPos)
        // hidden parquet metadata columns: exact file + row position —
        // the merge-on-read join key (Iceberg's positional deletes)
        Seq(col("_metadata.file_path").as("_graft_fp"),
          col("_metadata.row_index").as("_graft_pos"))
      else Nil) ++ (if (lineage)
        Seq(col("_graft_row_id"), col("_graft_last_seq"))
      else Nil)
      spark.read
        .schema(readSchema(sid))
        .parquet(fs.map(f => dir.resolve(f.path).toString): _*)
        .select(projection: _*)
    }.reduce(_.unionByName(_))
  }

  /** Current-snapshot read WITH v3 row-lineage columns: every live row
    * carries `_row_id` (durable identity — firstRowId+position for
    * plain files, the materialized id for rewritten ones) and
    * `_last_updated_sequence_number` (the commit seq that last modified
    * it — the file's seq unless a rewrite materialized an older one, or
    * NULL-marked the row as modified by its own commit). MoR deletes
    * (positional, vectors, equality) apply exactly like read(). Caveat
    * (documented, consistent with v3's equality-delete-upsert rule):
    * updateMoR and mergeMoR write changed rows as NEW rows — those draw
    * fresh ids; CoW delete/update/merge (`copyOnWrite`) and compaction
    * are the id-preserving paths. */
  def readWithLineage(spark: SparkSession): DataFrame = {
    val m = meta
    val snap = m.currentSnapshot
    readLive(spark, m, snap, snap.map(_.manifest).getOrElse(Nil), lineage = true)
      .select(m.currentSchema.map(c => col(c.name)) ++ Seq(
        col("_graft_row_id").as("_row_id"),
        col("_graft_last_seq").as("_last_updated_sequence_number")): _*)
  }

  // --------------------------------------------------------------- write

  /** D1 `INSERT INTO ... SELECT` (README.md:199-208): align the incoming
    * frame to the table schema by name (cast like the reference's ingest
    * CASTs), cluster by the partition transform if one is declared, write
    * parquet, commit an `append` snapshot. */
  /** Schema-evolving append (Iceberg's `mergeSchema` write option): any
    * incoming column the table lacks is first ADDed by a metadata-only
    * schema commit (fresh column id — old files read NULL for it, the
    * standard evolution rule), then the rows append normally. Column
    * adds are idempotent-by-name through the retry loop, so two racing
    * evolving appends converge: one wins each add, the loser's retry
    * sees the column exists and proceeds. Never drops or retypes —
    * narrowing is the caller's explicit widenColumn/ALTER decision. */
  def appendEvolve(df: DataFrame): Unit = {
    val (_, m0) = TableMeta.load(dir)
    val have = m0.currentSchema.map(_.name).toSet
    df.schema.fields.filterNot(f => have(f.name)).foreach { f =>
      TableMeta.commitRetry(dir) { m =>
        if (m.currentSchema.exists(_.name == f.name)) m // racer added it
        else {
          val nid = m.lastColumnId + 1
          val nextSchema = m.currentSchema :+ ColumnDef(nid, f.name, f.dataType.json)
          val nextSchemaId = m.currentSchemaId + 1
          m.copy(
            schemas = m.schemas + (nextSchemaId.toString -> nextSchema),
            currentSchemaId = nextSchemaId, lastColumnId = nid)
        }
      }
    }
    // rows may predate table columns the OTHER way too (table evolved,
    // producer not yet): fill those with NULLs — explicitly, here, not
    // in plain append (which stays strict so a missing column is a
    // caller bug, not silent data loss)
    val (_, m1) = TableMeta.load(dir)
    val padded = m1.currentSchema.filterNot(c => df.columns.contains(c.name))
      .foldLeft(df)((acc, c) => acc.withColumn(c.name, absentValue(c)))
    append(padded)
  }

  /** What a file missing column `c` reads: the initial-default if the
    * column declares one, else NULL. */
  private def absentValue(c: ColumnDef): Column =
    c.default.map(d => lit(d).cast(c.sparkType))
      .getOrElse(lit(null).cast(c.sparkType))

  def append(df: DataFrame): Unit = {
    val (_, m) = TableMeta.load(dir)
    // write-default: a writer that omits a defaulted column materializes
    // the default physically (new files don't rely on read-time fill);
    // omitting a column WITHOUT a default stays a loud caller bug
    val filled = m.currentSchema
      .filter(c => c.default.isDefined && !df.columns.contains(c.name))
      .foldLeft(df)((acc, c) => acc.withColumn(c.name, absentValue(c)))
    val aligned = filled.select(m.currentSchema.map(c => col(c.name).cast(c.sparkType).as(c.name)): _*)
    val newFiles = writeFiles(df.sparkSession, m, aligned)
    // An append is reapplicable on fresh metadata (data files are already
    // on disk; the commit only merges manifests), so it retries through
    // concurrent commits — the reference's REST-catalog behavior.
    TableMeta.commitRetry(dir) { fresh =>
      appendSnapshot(fresh, "append",
        fresh.currentSnapshot.map(_.manifest).getOrElse(Nil) ++ newFiles,
        carryDeletes(fresh)) // prior MoR deletes still apply to old files
    }
  }

  /** Iceberg's `add_files` migration: register EXISTING parquet files as
    * an append snapshot WITHOUT reading or rewriting their data — the
    * onboarding path that turns a directory of plain parquet into table
    * rows at O(metadata) cost. At 100 TB this is the difference between
    * an afternoon of executor-hours (CTAS re-write) and seconds of
    * footer reads: per file one footer fetch harvests row count +
    * min/max + null stats, so pruning works immediately.
    *
    * Semantics match Iceberg: ownership of the files TRANSFERS to the
    * table — a later compaction or expire may rewrite or delete them
    * (manifest paths may be absolute; every reader resolves via
    * `dir.resolve`, for which an absolute path is a no-op).
    *
    * Guards: the file schema must carry every current column with the
    * exact type (by name — the files never went through our writer, so
    * column-id mapping is pinned to the CURRENT schema id; a later
    * rename resolves by id like any other file). Partitioned tables
    * refuse: external files have no partition values, and a silent
    * empty-value entry would quietly exempt them from day pruning's
    * contract that partitioned files carry their day. */
  def addFiles(spark: SparkSession, sourceDir: java.nio.file.Path): Seq[DataFile] =
    addFiles(spark, GraftIO.fromNio(sourceDir))

  def addFiles(spark: SparkSession, sourceDir: HPath): Seq[DataFile] = {
    val parquets = GraftIO.list(sourceDir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    require(parquets.nonEmpty, s"no .parquet files in $sourceDir")
    // Type check against ONE Spark-inferred schema; column PRESENCE is
    // checked PER FILE below (Spark infers from a single footer, and a
    // file missing a column would otherwise register fine and read back
    // silent NULLs — violating the migration invariant value-wise).
    val m0 = meta
    val fileSchema = spark.read.parquet(sourceDir.toString).schema
    val byName = fileSchema.fields.map(f => f.name -> f.dataType).toMap
    m0.currentSchema.foreach { c =>
      val ft = byName.getOrElse(c.name,
        throw new IllegalArgumentException(
          s"add_files: source lacks column ${c.name} (has: ${byName.keys.mkString(", ")})"))
      require(ft == c.sparkType,
        s"add_files: column ${c.name} is $ft in the files, ${c.sparkType} in the table")
    }
    val required = m0.currentSchema.map(_.name)
    val newFiles = parquets.map { st =>
      val p = st.getPath
      val footer = FooterStats.readWithNulls(st, m0.currentSchema)
      val missing = required.toSet -- footer.columns
      require(missing.isEmpty,
        s"add_files: $p lacks column(s) ${missing.mkString(", ")} — registering it " +
          "would read back silent NULLs")
      DataFile(
        // local sources register as plain absolute paths (scheme-less,
        // the historical manifest form); remote sources keep the full URI
        path = if (p.toUri.getScheme == null || p.toUri.getScheme == "file")
          p.toUri.getPath else p.toString,
        rows = footer.rows,
        schemaId = m0.currentSchemaId,
        partitionValues = Map.empty,
        stats = Some(footer.stats),
        sizeBytes = Some(st.getLen),
        nulls = if (footer.nulls.isEmpty) None else Some(footer.nulls))
    }
    TableMeta.commitRetry(dir) { fresh =>
      // guards validate FRESH metadata inside the retry closure (like
      // every other mutator): a concurrent add_partition_field or a
      // racing add_files of the same directory must lose loudly, not
      // slip stale-checked files into the commit
      require(fresh.partitionFields.isEmpty,
        s"add_files into a partitioned table is unsupported (table $dir has hidden " +
          "partition fields; external files carry no partition values)")
      require(fresh.currentSchemaId == m0.currentSchemaId,
        "add_files: schema changed concurrently; retry against the new schema")
      val existing = fresh.currentSnapshot.map(_.manifest.map(_.path).toSet).getOrElse(Set.empty)
      val dups = newFiles.map(_.path).filter(existing)
      require(dups.isEmpty, // Iceberg's check_duplicate_files=true behavior
        s"add_files: ${dups.size} file(s) already registered (re-run?): ${dups.take(3).mkString(", ")}")
      appendSnapshot(fresh, "append",
        fresh.currentSnapshot.map(_.manifest).getOrElse(Nil) ++ newFiles,
        carryDeletes(fresh))
    }
    newFiles
  }

  /** Write-audit-publish STAGE: append `df` to a BRANCH without touching
    * main — the snapshot commits (files durable, time-travel readable)
    * but currentSnapshotId stays put; only the branch ref advances.
    * Readers of the table see nothing until a publish
    * (`publishBranch`). This is Iceberg's WAP workflow
    * (spark.wap.branch): write to the audit branch, run checks against
    * `readRef`, then fast-forward main. Returns the staged snapshot id. */
  def appendToBranch(branch: String, df: DataFrame): Long = {
    val (_, m0) = TableMeta.load(dir)
    val aligned = df.select(m0.currentSchema.map(c => col(c.name).cast(c.sparkType).as(c.name)): _*)
    val newFiles = writeFiles(df.sparkSession, m0, aligned)
    var staged = 0L
    TableMeta.commitRetry(dir) { fresh =>
      val base = fresh.allRefs.get(branch) match {
        case Some(ref) =>
          require(ref.branch, s"ref $branch is a tag; tags are immutable")
          fresh.snapshot(ref.snapshotId)
        case None => // branch from current state on first stage
          fresh.currentSnapshot.getOrElse(
            throw new IllegalStateException(s"table $dir has no snapshot to branch from"))
      }
      val snapId = fresh.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
      staged = snapId
      var rid = fresh.nextRowId.getOrElse(0L)
      val snap = Snapshot(
        snapshotId = snapId,
        parentId = Some(base.snapshotId),
        timestampMs = System.currentTimeMillis(),
        operation = "append",
        // stamp the staged files' data sequence: an equality delete
        // committed later must not reach back into this append — and
        // their firstRowId (lineage ids are assigned at STAGE time so a
        // later publish is metadata-only)
        manifest = base.manifest ++ newFiles.map { f =>
          val withSeq = if (f.seq.isEmpty) f.copy(seq = Some(snapId)) else f
          if (f.firstRowId.isEmpty && !f.materializedLineage.contains(true)) {
            val r = rid; rid += f.rows; withSeq.copy(firstRowId = Some(r))
          } else withSeq
        },
        deleteFiles = base.deleteFiles,
        eqDeleteFiles = base.eqDeleteFiles,
        deleteVectors = base.deleteVectors)
      fresh.copy(
        snapshots = fresh.snapshots :+ snap, // currentSnapshotId UNCHANGED
        refs = Some(fresh.allRefs + (branch -> SnapshotRef(snapId, branch = true))),
        nextRowId = if (rid == 0L) fresh.nextRowId else Some(rid))
    }
    staged
  }

  /** Write-audit-publish PUBLISH: fast-forward MAIN to the branch head
    * (Iceberg's `CALL fast_forward('main', branch)`). Metadata-only.
    * Guarded like Iceberg's fast_forward: main's current snapshot must
    * be an ancestor of the branch head, otherwise publishing would
    * silently drop commits that landed on main after the stage. */
  def publishBranch(branch: String): Unit =
    TableMeta.commitRetry(dir) { m =>
      val ref = m.allRefs.getOrElse(branch,
        throw new IllegalArgumentException(s"no ref $branch"))
      require(ref.branch, s"ref $branch is a tag")
      require(m.currentSnapshotId.forall(m.ancestorIds(ref.snapshotId).contains),
        s"cannot fast-forward: main is not an ancestor of branch $branch " +
          "(commits landed on main after the stage; re-stage from current)")
      m.copy(currentSnapshotId = Some(ref.snapshotId))
    }

  /** Streaming-sink micro-batch append (use from `foreachBatch`):
    * exactly-once per (queryId, batchId). Structured Streaming replays a
    * micro-batch after a crash between sink write and checkpoint commit;
    * recording the batch key in the snapshot makes the replay a no-op —
    * the same idempotence contract Iceberg's streaming writer keeps via
    * snapshot summary properties. A skipped replay's freshly written
    * files are unreferenced; they are deleted best-effort here.
    *
    * `expectLastBatch`: optional compare-and-swap on the query's max
    * committed batch id (0 = none yet). A caller whose PAYLOAD covers the
    * range (expectLastBatch, batchId] — the batched index refresh — must
    * abort if a racer advanced the query past its planning point, or the
    * overlapping rows would double-commit; plain streaming sinks (payload
    * = one batch, ids sequential) don't need it. Returns true iff this
    * call committed the batch. */
  def appendStreamBatch(df: DataFrame, queryId: String, batchId: Long,
      expectLastBatch: Option[Long] = None): Boolean = {
    val key = s"$queryId#$batchId"
    // replay detection: the key lives in a live snapshot, OR batchId is
    // at-or-below the query's retired watermark (expire_snapshots folds
    // dropped snapshots' keys into the per-query max)
    def committed(m: TableMeta): Boolean =
      m.snapshots.exists(_.streamBatch.contains(key)) ||
        m.retiredStreamBatches.exists(_.get(queryId).exists(batchId <= _)) ||
        expectLastBatch.exists(_ != m.maxStreamBatch(queryId))
    val (_, m) = TableMeta.load(dir)
    if (committed(m)) return false // replay / stale planning point
    val aligned = df.select(m.currentSchema.map(c => col(c.name).cast(c.sparkType).as(c.name)): _*)
    val newFiles = writeFiles(df.sparkSession, m, aligned)
    // racing replay detected inside the retry loop: abort WITHOUT
    // committing. (commitRetry would also skip the publish for an
    // unchanged `fresh` nowadays, but the ControlThrowable is still
    // needed: a detected replay must ALSO trigger the staged-file
    // cleanup below, which a silent no-op return could not signal.)
    object Replayed extends scala.util.control.ControlThrowable
    try {
      TableMeta.commitRetry(dir) { fresh =>
        if (committed(fresh)) throw Replayed
        appendSnapshot(fresh, "append",
          fresh.currentSnapshot.map(_.manifest).getOrElse(Nil) ++ newFiles,
          carryDeletes(fresh), streamBatch = Some(key))
      }
      true
    } catch {
      case Replayed =>
        // delete the aborted write's whole staging dir(s), not just the
        // manifest-listed parquet files — zero-row files and _SUCCESS
        // markers would otherwise leak in data/ for the table's lifetime
        newFiles.map(f => dir.resolve(f.path).getParent).distinct.foreach { p =>
          var d0 = p
          // walk up to the w-<uuid> staging root (partitioned writes nest
          // one level of day=... dirs under it)
          while (d0 != null && !d0.getName.startsWith("w-")) d0 = d0.getParent
          GraftIO.deleteRecursive(if (d0 == null) p else d0)
        }
        false
    }
  }

  /** INSERT OVERWRITE semantics: replace the table's visible content with
    * `df` in one snapshot; prior snapshots remain time-travelable. */
  def overwrite(df: DataFrame): Unit = {
    val (_, m) = TableMeta.load(dir)
    val aligned = df.select(m.currentSchema.map(c => col(c.name).cast(c.sparkType).as(c.name)): _*)
    val newFiles = writeFiles(df.sparkSession, m, aligned)
    // full content replacement: no prior delete files survive
    TableMeta.commitRetry(dir)(fresh => appendSnapshot(fresh, "overwrite", newFiles, Nil))
  }

  /** DYNAMIC partition overwrite (Spark's INSERT OVERWRITE in dynamic
    * mode / Iceberg's overwritePartitions): replaces exactly the hidden
    * partitions the incoming frame touches, leaves every other partition
    * untouched — the idempotent daily-reprocess primitive ("recompute
    * day X and swap it in"). Metadata swap: old files whose recorded
    * partition values match a written partition leave the manifest, the
    * new files join it. MoR deletes carry (they're inert against removed
    * files, seq-scoped for the rest).
    *
    * Requires every live file to record values for the current partition
    * spec: a file written BEFORE the partition field was added could hold
    * rows of a touched partition without being replaceable — compact
    * first (files regain values under the current spec).
    *
    * Scala-API surface only: Spark's OverwritePartitionsDynamic plan
    * demands native BATCH_WRITE (TableCapabilityCheck rejects the V1
    * bridge), so SQL INSERT OVERWRITE in dynamic mode would need a full
    * DSv2 writer implementation — static INSERT OVERWRITE (full replace)
    * works through SQL today. */
  def overwritePartitions(df: DataFrame): Unit = {
    val (_, m0) = TableMeta.load(dir)
    require(m0.partitionFields.nonEmpty,
      "table has no partition spec; use overwrite() for full replacement")
    val fieldNames = m0.partitionFields.map(_.name).toSet
    def unreplaceable(m: TableMeta): Seq[DataFile] =
      m.currentSnapshot.map(_.manifest).getOrElse(Nil)
        .filter(f => !fieldNames.subsetOf(f.partitionValues.keySet))
    // fail BEFORE the write: the guard needs only the manifest, and a
    // doomed swap should not burn a full dataset write first
    require(unreplaceable(m0).isEmpty,
      s"${unreplaceable(m0).size} file(s) predate the current partition spec and may hold " +
        "rows of a touched partition; run rewriteDataFiles first")
    val aligned = df.select(m0.currentSchema.map(c => col(c.name).cast(c.sparkType).as(c.name)): _*)
    val newFiles = writeFiles(df.sparkSession, m0, aligned)
    if (newFiles.isEmpty) return
    val touched = newFiles.map(_.partitionValues.filter(kv => fieldNames.contains(kv._1))).toSet
    try TableMeta.commitRetry(dir) { fresh =>
      // the swap was computed under m0's spec: a concurrent partition
      // evolution would make "touched" mean something else — refuse
      // rather than commit files missing current-spec values
      require(fresh.partitionFields == m0.partitionFields,
        "partition spec changed concurrently; retry the overwrite")
      require(unreplaceable(fresh).isEmpty,
        "files predating the partition spec appeared concurrently; run rewriteDataFiles first")
      val cur = fresh.currentSnapshot.map(_.manifest).getOrElse(Nil)
      val kept = cur.filterNot(f =>
        touched.contains(f.partitionValues.filter(kv => fieldNames.contains(kv._1))))
      appendSnapshot(fresh, "dynamic_overwrite", kept ++ newFiles, carryDeletes(fresh))
    } catch {
      case e: Throwable =>
        // the replacement write never became visible — don't leave it
        // for remove_orphan_files (the appendStreamBatch abort rule)
        newFiles.map(_.path.split('/').take(2).mkString("/")).distinct.foreach { d =>
          try GraftIO.deleteRecursive(dir.resolve(d))
          catch { case scala.util.control.NonFatal(_) => () }
        }
        throw e
    }
  }

  /** Maps scan-reported absolute file paths (`input_file_name()` strings
    * collected off `_graft_fp`) back to their manifest entries. Both
    * sides are canonicalized ONCE to the scheme-free filesystem path
    * (`file:///a/b` ≡ `file:/a/b` ≡ `/a/b`), then matched through a
    * HashSet probe — O(|manifest| + |affected|). The previous
    * `exists(endsWith)` scan was O(|manifest| × |affected|) suffix
    * compares: 10⁹ driver-side character scans at 100k files × 10k
    * affected, a real planning stall at scale. Covers relative manifest
    * paths (resolved under `dir`) and absolute ones (add_files
    * registrations — `resolve` of an absolute child is the child). */
  private[table] def matchAffected(manifest: Seq[DataFile], affectedPaths: Set[String]): Seq[DataFile] = {
    if (affectedPaths.isEmpty) return Nil
    // makeQualified canonicalizes every spelling through the table's
    // filesystem: `file:/a` ≡ `file:///a` ≡ `/a`, and a scheme-less
    // `dir` on a non-local defaultFS (hdfs://nn) qualifies to the same
    // authority the scan reports — without it, fully-qualified
    // `input_file_name` strings would never equal a bare-path base and
    // every CoW delete/update/merge would silently match nothing.
    // Paths already carrying a scheme (s3a add_files entries) keep it.
    // key = scheme|authority|path of the QUALIFIED uri: qualification
    // alone is not enough because `file:///a` keeps its empty-authority
    // URI form while `file:/a` renders without it — same file, unequal
    // strings; null-vs-empty authority is collapsed here instead.
    // Path.makeQualified (not FileSystem.makeQualified) on purpose: the
    // FileSystem flavor runs checkPath, which THROWS "Wrong FS" on a
    // cross-scheme manifest entry (an s3a add_files registration in a
    // file:// table) — the Path flavor fills in missing scheme/authority
    // and leaves foreign schemes untouched.
    val tableFs = GraftIO.fs(dir)
    val fsUri = tableFs.getUri
    val fsWd = tableFs.getWorkingDirectory
    def key(p: HPath): String = {
      val u = p.makeQualified(fsUri, fsWd).toUri
      val a = u.getAuthority
      u.getScheme + "|" + (if (a == null) "" else a) + u.getPath
    }
    // scan-reported strings (input_file_name / _metadata.file_path) are
    // URL-ENCODED URIs, while manifest entries hold the LITERAL on-disk
    // names (a partition value "a:b" is a directory literally named
    // "a%3Ab", which the scan then reports as "a%253Ab") — decode the
    // scan side into literal space before keying or such files would
    // never match and the CoW op would silently touch nothing. Strings
    // that don't parse as URIs pass through raw (then they were never
    // encoded).
    def decodedLiteral(p: String): String =
      try {
        val u = new java.net.URI(p)
        if (u.getScheme == null || u.getPath == null) p
        else {
          val a = u.getAuthority
          u.getScheme + "://" + (if (a == null) "" else a) + u.getPath
        }
      } catch { case scala.util.control.NonFatal(_) => p }
    val keys = affectedPaths.map(p => key(new HPath(decodedLiteral(p))))
    // relative entries (the overwhelming case) resolve by string concat:
    // a Hadoop Path + URI parse per entry costs ~20 µs — 2 s of driver
    // time at 100k files (measured in ManifestScaleSpec) for no gain
    val base = key(dir).stripSuffix("/")
    def entryKey(p: String): String =
      if (p.startsWith("/") || p.contains(":")) key(new HPath(p))
      else base + "/" + p
    val keyed = manifest.map(f => entryKey(f.path) -> f)
    // every scan-reported path ORIGINATED from a manifest entry, so a
    // non-match can only be a canonicalization bug — which, if silent,
    // turns CoW delete/update/merge into a no-op that "succeeds". Fail
    // loudly instead of skipping the write.
    val entryKeys = keyed.iterator.map(_._1).toSet
    val unmatched = keys.filterNot(entryKeys.contains)
    require(unmatched.isEmpty,
      s"matchAffected: ${unmatched.size} scan-reported path(s) matched no manifest entry " +
        s"(path canonicalization bug): ${unmatched.take(3).mkString(", ")}")
    keyed.collect { case (k, f) if keys.contains(k) => f }
  }

  /** The entries of `files` holding some row of `rows`, named by its
    * scan-reported `_graft_fp` column: the distinct paths are collected
    * (metadata-sized: #files, not #rows) and mapped by matchAffected. */
  private def filesOf(files: Seq[DataFile], rows: DataFrame): Seq[DataFile] =
    matchAffected(files, rows.select(col("_graft_fp")).distinct()
      .collect().map(_.getString(0)).toSet)

  /** The one copy-on-write rewrite behind DELETE, UPDATE and MERGE, on
    * `m` as loaded at version `v`. `dropped` leave the manifest unread.
    * `probe` sees only the live rows of `candidates` and returns the rows
    * that change; their files are rewritten from their live rows with
    * lineage, through `shape` (DELETE's filter, MERGE's join) and `value`
    * per column. Every row keeps its row id; rows where `modified` holds
    * write a NULL last-updated seq (read back as this commit's), the rest
    * keep theirs. `inserts` (given the candidates' live rows) get a plain
    * write of their own, so they draw fresh ids. One single-shot commit:
    * a concurrent change must surface, not be silently reapplied. */
  private def copyOnWrite(spark: SparkSession, op: String, v: Int, m: TableMeta,
      dropped: Seq[DataFile], candidates: Seq[DataFile],
      probe: Option[DataFrame => DataFrame], shape: DataFrame => DataFrame,
      value: ColumnDef => Column, modified: Column,
      inserts: DataFrame => Option[DataFrame] = _ => None): Unit = {
    val snap = m.currentSnapshot
    lazy val live = readLive(spark, m, snap, candidates)
    val affected = probe match {
      case Some(p) if candidates.nonEmpty => filesOf(candidates, p(live))
      case _ => Nil
    }
    val rewritten =
      if (affected.isEmpty) Nil
      else writeFiles(spark, m, shape(readLive(spark, m, snap, affected, lineage = true))
        .select(m.currentSchema.map(c => value(c).as(c.name)) ++ Seq(col("_graft_row_id"),
          when(modified, lit(null).cast(LongType)).otherwise(col("_graft_last_seq"))
            .as("_graft_last_seq")): _*),
        lineageMaterialized = true)
    val added = inserts(live).fold(Seq.empty[DataFile])(writeFiles(spark, m, _))
    if (dropped.isEmpty && affected.isEmpty && added.isEmpty) return
    TableMeta.commit(dir, v, appendSnapshot(m, op,
      snap.map(_.manifest).getOrElse(Nil).diff(dropped ++ affected) ++ rewritten ++ added,
      carryDeletes(m)))
  }

  /** D2 row-level `DELETE WHERE` (README.md:231), copy-on-write: only
    * files holding matching rows are rewritten; old snapshots keep the
    * originals (README.md:258). `filters` are `pred`'s DataSource-`Filter`
    * form (SQL DELETE pushes both). Work is then in proportion to the
    * files the delete changes (`planDelete`): files `planFilters` rules
    * out are never read, files whose stats prove every row matches are
    * dropped by metadata alone (a retention delete runs no Spark job), and
    * only the rest are probed. No filters: every file is probed, the
    * whole-table reference. */
  def delete(spark: SparkSession, pred: Column,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil): Unit = {
    val (v, m) = TableMeta.load(dir)
    val (dropped, candidates) = planDelete(m, filters)
    // DELETE WHERE pred removes rows where pred IS TRUE; null-pred rows
    // are kept — hence not(coalesce(pred, false)), not plain !pred
    copyOnWrite(spark, "delete", v, m, dropped, candidates,
      probe = Some(_.filter(pred)), shape = _.filter(!coalesce(pred, lit(false))),
      value = c => col(c.name), modified = lit(false))
  }

  /** DELETE planning over pushed filters: (files dropped whole by
    * metadata, files to probe). Candidates are `planFilters`' survivors;
    * a candidate is dropped only when the snapshot holds no positional or
    * equality delete files, the file has no deletion vector, and every
    * filter provably holds for all its rows (`FilterBounds.provesAll`
    * over stats resolved by column id, `writtenColumn`). No filters →
    * every file is probed (the reference path). */
  private[table] def planDelete(m: TableMeta,
      filters: Seq[org.apache.spark.sql.sources.Filter]): (Seq[DataFile], Seq[DataFile]) = {
    val candidates = planFilters(m, filters)
    val snap = m.currentSnapshot
    if (filters.isEmpty ||
        snap.exists(s => s.allDeleteFiles.nonEmpty || s.allEqDeleteFiles.nonEmpty))
      return (Nil, candidates)
    val withDv = snap.map(_.allDeleteVectors.map(_.dataPath).toSet).getOrElse(Set.empty)
    val current = m.currentSchema.map(c => c.name -> c).toMap
    val written = writtenColumn(m)
    candidates.partition { f =>
      def stats(name: String): Option[(DataType, ColRange)] = for {
        cur <- current.get(name) if FilterBounds.provable(cur.sparkType)
        w <- written(f, name) if FilterBounds.provable(w.sparkType)
        if f.nulls.flatMap(_.get(w.name)).contains(0L)
        r <- f.stats.flatMap(_.get(w.name))
      } yield (cur.sparkType, r)
      !withDv(f.path) && filters.forall(FilterBounds.provesAll(_, stats))
    }
  }

  /** D2 merge-on-read flavor (Iceberg v2's actual default): instead of
    * rewriting files, record the (file, position) of each matching row in
    * a positional DELETE FILE; reads anti-join those positions away. A
    * 1-row delete costs one tiny parquet write — no data-file rewrite
    * (CoW write-amplifies: 1 matching row rewrites its whole file, a real
    * cost at 100 TB). Compaction (rewriteDataFiles) folds the deletes in
    * and clears them. */
  def deleteMoR(spark: SparkSession, pred: Column): Unit = {
    val (v, m) = TableMeta.load(dir)
    val manifest = m.currentSnapshot.map(_.manifest).getOrElse(Nil)
    if (manifest.isEmpty) return
    requireUniqueSuffixes(manifest)
    val entries = writeDeleteParquet("d",
      readLive(spark, m, m.currentSnapshot, manifest)
        .filter(coalesce(pred, lit(false)))
        .select(col("_graft_fp").as("file_path"), col("_graft_pos").as("pos")))
      .map { case (rel, rows) => DataFile(rel, rows, m.currentSchemaId, Map.empty) }
    if (entries.isEmpty) return // nothing matched; stray empty dir is inert
    TableMeta.commit(dir, v,
      appendSnapshot(m, "delete", manifest, carryDeletes(m) ++ entries))
  }

  /** D2, v3 flavor: DELETION VECTORS. Same observable semantics as
    * deleteMoR, but the delete state is ONE compact bitmap per affected
    * data file (Dv codec) instead of an ever-growing pile of positional
    * parquet files. The v3 supersede rule: the new vector for a file
    * MERGES the positions of the vector it replaces, so a snapshot never
    * holds two vectors for one file and read cost is O(1) artifacts per
    * file no matter how many delete commits occurred — the v2 pile grows
    * per-commit and every read unions all of it. Vectors are written by
    * executors (one task per affected file); only (path, cardinality)
    * triples return to the driver. */
  def deleteMoRDv(spark: SparkSession, pred: Column): Unit = {
    val (v, m) = TableMeta.load(dir)
    val manifest = m.currentSnapshot.map(_.manifest).getOrElse(Nil)
    if (manifest.isEmpty) return
    requireUniqueSuffixes(manifest)
    val prior = m.currentSnapshot.map(_.allDeleteVectors).getOrElse(Nil)
    val bySfx = manifest.map(f => dataSuffix(f.path) -> f.path).toMap
    // readLive: rows already dead (prior vectors, positional files,
    // eq-deletes) must not re-enter — new positions are disjoint from
    // the superseded vector's by construction
    val matched = readLive(spark, m, m.currentSnapshot, manifest)
      .filter(coalesce(pred, lit(false)))
      .select(substring_index(col("_graft_fp"), "/data/", -1).as("_dv_sfx"),
        col("_graft_pos").as("_dv_pos"))
    import spark.implicits._
    val dirStr = dir.toString
    val priorPathBySfx = spark.sparkContext.broadcast(
      prior.map(d => dataSuffix(d.dataPath) -> d.path).toMap)
    // per-group memory is bounded by rows-per-file (the compaction
    // target bounds file size): even a full-file delete of a 512 MB /
    // ~5M-row file collects ~40 MB of positions in one executor task —
    // the serialize step needs the full set regardless
    val written = matched.groupBy(col("_dv_sfx"))
      .agg(collect_list(col("_dv_pos")).as("_dv_pos"))
      .as[(String, Seq[Long])]
      .rdd.map { case (sfx, newPos) =>
        val base = new HPath(dirStr)
        val merged = priorPathBySfx.value.get(sfx) match {
          case Some(rel) => Dv.merge(newPos.toArray, Dv.read(base.resolve(rel)))
          case None      => Dv.merge(newPos.toArray, Array.empty[Long])
        }
        val rel = s"data/dv-${java.util.UUID.randomUUID().toString.take(12)}.bin"
        Dv.write(base.resolve(rel), merged)
        (sfx, rel, merged.length.toLong)
      }.collect() // manifest-sized triples, never positions
    if (written.isEmpty) return
    val replaced = written.map(_._1).toSet
    val newDvs = prior.filterNot(d => replaced(dataSuffix(d.dataPath))) ++
      written.toSeq.map { case (sfx, rel, card) =>
        DeleteVector(bySfx.getOrElse(sfx, sfx), rel, card) }
    // single-shot commit, like deleteMoR: the vectors were derived from
    // THIS manifest — a concurrent change must surface, not be reapplied
    TableMeta.commit(dir, v,
      appendSnapshot(m, "delete", manifest, carryDeletes(m), dvs = Some(newDvs)))
  }

  /** `CALL system.rewrite_position_deletes` (Iceberg's
    * rewrite_position_delete_files): fold every positional delete FILE
    * and every deletion vector of the current snapshot into ONE merged
    * deletion vector per affected data file — WITHOUT touching data
    * files. The maintenance companion to deleteMoRDv: a long-lived MoR
    * table accumulates positional files whose per-read anti-join union
    * grows with every delete; the fold restores the v3 invariant (≤1
    * vector per data file, zero positional files) at O(delete entries)
    * cost, metadata + vector IO only. Table CONTENT is identical before
    * and after, CDC emits nothing for the fold commit (readChanges
    * skips 'rewrite-deletes' vector deltas), and time travel still reads
    * the old snapshots through their original delete files. Equality
    * deletes are NOT positions (they are sequence-guarded key
    * predicates) — they carry through unchanged.
    * Returns (delete files + vectors before, vectors after). */
  def rewritePositionDeletes(spark: SparkSession): (Int, Int) = {
    val (v, m) = TableMeta.load(dir)
    val snap = m.currentSnapshot.getOrElse(return (0, 0))
    val posFiles = snap.allDeleteFiles
    val dvs = snap.allDeleteVectors
    val before = posFiles.size + dvs.size
    // nothing to fold: DV-only state already keeps one vector per file
    // (deleteMoRDv's supersede rule) — rewriting would churn bytes
    if (posFiles.isEmpty) return (before, before)
    requireUniqueSuffixes(snap.manifest, op = "rewrite_position_deletes")
    val entries = deleteEntries(spark, snap).get // (_graft_dfp, _graft_pos)
    import spark.implicits._
    val dirStr = dir.toString
    // carried positional files may still name files a CoW rewrite
    // already dropped from the manifest — those entries are inert in
    // the read anti-join and must NOT materialize as phantom vectors
    // (they would be carried forever, decoded per read, and could even
    // bite a future add_files registration sharing the suffix). The
    // live-suffix set is manifest-sized: a broadcast semi-join keeps
    // the fold distributed.
    val liveSfx = spark.createDataset(snap.manifest.map(f => dataSuffix(f.path)))
      .toDF("_graft_dfp")
    // one task per affected data file; positions never gather on the
    // driver (same bound as deleteMoRDv: rows-per-file sized groups)
    val written = entries
      .join(broadcast(liveSfx), Seq("_graft_dfp"), "left_semi")
      .groupBy(col("_graft_dfp")).agg(collect_list(col("_graft_pos")).as("pos"))
      .as[(String, Seq[Long])]
      .rdd.map { case (sfx, pos) =>
        val base = new HPath(dirStr)
        val merged = Dv.merge(pos.toArray, Array.empty[Long])
        val rel = s"data/dv-${java.util.UUID.randomUUID().toString.take(12)}.bin"
        Dv.write(base.resolve(rel), merged)
        (sfx, rel, merged.length.toLong)
      }.collect() // per-affected-file triples, manifest-sized
    val bySfx = snap.manifest.map(f => dataSuffix(f.path) -> f.path).toMap
    val newDvs = written.toSeq.map { case (sfx, rel, card) =>
      DeleteVector(bySfx(sfx), rel, card) } // semi-join guarantees membership
    // single-shot commit like deleteMoRDv: the fold was derived from
    // THIS snapshot — a concurrent change must surface, not be reapplied
    TableMeta.commit(dir, v,
      appendSnapshot(m, "rewrite-deletes", snap.manifest, Nil, dvs = Some(newDvs)))
    (before, newDvs.size)
  }

  /** Write a (tiny, by-construction) delete-file parquet under
    * data/<prefix>-<uuid>/ and return its (relativePath, rows) parts —
    * the shared tail of both MoR delete flavors. Zero-row parts are
    * skipped (empty write partitions carry nothing). */
  private def writeDeleteParquet(prefix: String, df: DataFrame): Seq[(String, Long)] = {
    val outDir = dir.resolve(
      s"data/$prefix-${java.util.UUID.randomUUID().toString.take(12)}")
    df.coalesce(1).write.parquet(outDir.toString)
    val parts = GraftIO.listFilesRecursive(outDir)
      .filter(st => st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.toString)
    parts.flatMap { st =>
      val rows = FooterStats.readWithNulls(st, Nil).rows
      if (rows == 0) None else Some(GraftIO.relativize(dir, st.getPath) -> rows)
    }
  }

  /** Iceberg v2 EQUALITY deletes: every row whose key tuple appears in
    * `keys` is deleted — WITHOUT reading the table. The delete file
    * records key VALUES, so the write cost is O(keys) regardless of
    * table size; positional deletes (deleteMoR) need a scan to find
    * positions first. This is the CDC-ingestion workhorse: streamed
    * upserts delete-by-key then append. The sequence guard scopes the
    * delete to data files present at commit time — a LATER append of
    * the same key is a live row (proven in TableSpec). */
  def deleteMoREquality(spark: SparkSession, keys: DataFrame): Unit = {
    val keyCols = keys.columns.toSeq
    require(keyCols.nonEmpty, "equality delete needs at least one key column")
    val (_, m0) = TableMeta.load(dir)
    keyCols.foreach(k => require(m0.currentSchema.exists(_.name == k), s"no column $k"))
    if (m0.currentSnapshot.forall(_.manifest.isEmpty)) return
    val aligned = keys.select(keyCols.map(k =>
      col(k).cast(m0.currentSchema.find(_.name == k).get.sparkType).as(k)): _*)
      .dropDuplicates()
    // record key column IDS alongside the written names: reads resolve
    // ids to current names, so a rename can't break the pending delete
    val keyIds = keyCols.map(k => m0.currentSchema.find(_.name == k).get.id)
    val entries = writeDeleteParquet("e", aligned).map { case (rel, rows) =>
      // seq = 0 placeholder; appendSnapshot stamps the commit's id
      EqDeleteFile(rel, rows, keyCols, 0L, Some(keyIds))
    }
    if (entries.isEmpty) return
    // reapply-safe: the key file is already on disk and the seq guard is
    // stamped from whatever snapshot the commit finally lands on
    TableMeta.commitRetry(dir) { fresh =>
      appendSnapshot(fresh, "delete",
        fresh.currentSnapshot.map(_.manifest).getOrElse(Nil),
        carryDeletes(fresh), newEqDeletes = entries)
    }
  }

  /** Row-level `UPDATE ... SET ... WHERE` — the other half of the v2
    * "updates e deletes" promise (README.md:180), copy-on-write like
    * delete: the `planFilters` candidates for `filters` (any conjuncts
    * of `pred` in DataSource-`Filter` form; none = every file) are
    * probed, and files holding matching rows are rewritten with the
    * assignments applied where `pred` holds. */
  def update(spark: SparkSession, pred: Column, assignments: Map[String, Column],
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil): Unit = {
    val (v, m) = TableMeta.load(dir)
    assignments.keys.foreach(k =>
      require(m.currentSchema.exists(_.name == k), s"no column $k"))
    // null-pred rows are NOT updated (same rule as delete's keep side)
    val hit = coalesce(pred, lit(false))
    copyOnWrite(spark, "update", v, m, Nil, planFilters(m, filters),
      probe = Some(_.filter(hit)), shape = identity,
      value = c => assignments.get(c.name)
        .fold(col(c.name))(e => when(hit, e.cast(c.sparkType)).otherwise(col(c.name))),
      modified = hit)
  }

  /** Merge-on-read UPDATE (`write.update.mode=merge-on-read`): ONE
    * snapshot carries positional delete files marking the old versions
    * of matching rows plus new data files holding their updated copies —
    * untouched rows in affected files are never rewritten. Write cost is
    * O(matching rows), vs CoW update's O(bytes of every affected file):
    * the right trade at 100 TB when an update touches few rows spread
    * over many files (CoW stays right for bulk updates — hence a
    * property, not a default). Readers see pre- or post-update
    * atomically; time travel keeps the old rows via the old snapshot,
    * and compaction later folds the deletes away. */
  def updateMoR(spark: SparkSession, pred: Column, assignments: Map[String, Column]): Unit = {
    val (v, m) = TableMeta.load(dir)
    assignments.keys.foreach(k =>
      require(m.currentSchema.exists(_.name == k), s"no column $k"))
    val manifest = m.currentSnapshot.map(_.manifest).getOrElse(Nil)
    if (manifest.isEmpty) return
    // one scan feeds both the position list and the updated copies
    val matching = readLive(spark, m, m.currentSnapshot, manifest)
      .filter(coalesce(pred, lit(false))).persist()
    try {
      val delEntries = writeDeleteParquet("d",
        matching.select(col("_graft_fp").as("file_path"), col("_graft_pos").as("pos")))
        .map { case (rel, rows) => DataFile(rel, rows, m.currentSchemaId, Map.empty) }
      if (delEntries.isEmpty) return // nothing matched
      val updatedRows = matching.select(m.currentSchema.map { c =>
        assignments.get(c.name) match {
          case Some(e) => e.cast(c.sparkType).as(c.name)
          case None    => col(c.name)
        }
      }: _*)
      val newFiles = writeFiles(spark, m, updatedRows)
      TableMeta.commit(dir, v,
        appendSnapshot(m, "update", manifest ++ newFiles, carryDeletes(m) ++ delEntries))
    } finally matching.unpersist()
  }

  /** Merge-on-read MERGE (CDC-optimal upsert): ONE snapshot carrying an
    * EQUALITY delete of the source keys plus the source rows as new data
    * files — total write cost O(source), independent of table size, with
    * no scan of the table at all (the equality delete records key VALUES;
    * the read side applies it to older-seq files only). The sequence rule
    * appendSnapshot stamps makes this atomic AND self-consistent: the new
    * files carry seq == the delete's seq, and equality deletes apply only
    * to files with seq < delete seq — so the upserted copies survive
    * while every older version of the same key dies. This is the shape a
    * streaming CDC ingest runs per micro-batch at 100 TB; the CoW
    * `merge` stays right for bulk rewrites of heavily-matched files. */
  def mergeMoR(spark: SparkSession, source: DataFrame, keyCol: String): Unit = {
    val (_, m0) = TableMeta.load(dir)
    require(m0.currentSchema.exists(_.name == keyCol), s"no column $keyCol")
    val aligned = source.select(
      m0.currentSchema.map(c => col(c.name).cast(c.sparkType).as(c.name)): _*)
    val newFiles = writeFiles(spark, m0, aligned)
    val keyId = m0.currentSchema.find(_.name == keyCol).get.id
    val delEntries = writeDeleteParquet("e",
      aligned.select(col(keyCol)).dropDuplicates())
      .map { case (rel, rows) =>
        EqDeleteFile(rel, rows, Seq(keyCol), 0L, Some(Seq(keyId))) // seq stamped at commit
      }
    // reapply-safe (files + key parquet already durable) -> retry loop
    TableMeta.commitRetry(dir) { fresh =>
      appendSnapshot(fresh, "merge",
        fresh.currentSnapshot.map(_.manifest).getOrElse(Nil) ++ newFiles,
        carryDeletes(fresh), newEqDeletes = delEntries)
    }
  }

  /** MERGE-shaped upsert: rows of `source` whose `keyCol` matches an
    * existing row REPLACE it (update-all-columns), the rest are inserted —
    * `MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET *
    * WHEN NOT MATCHED THEN INSERT *`, run by `mergeInto` (so a target row
    * matched by two source rows raises the cardinality violation). The
    * source is cast to the table's types first, so the key sides share a
    * type and the source's key range plans the candidate files. */
  def merge(spark: SparkSession, source: DataFrame, keyCol: String): Unit = {
    val schema = meta.currentSchema
    require(schema.exists(_.name == keyCol), s"no column $keyCol")
    val all = RowAction(None, delete = false,
      schema.map(c => c.name -> col(s"__graft_s.`${c.name}`")))
    mergeInto(spark, source.select(schema.map(c => col(c.name).cast(c.sparkType).as(c.name)): _*),
      col(s"__graft_t.`$keyCol`") === col(s"__graft_s.`$keyCol`"), Seq(all), Seq(all), Nil)
  }

  /** General `MERGE INTO` with full SQL clause semantics: ordered WHEN
    * clauses, FIRST applicable action wins per row; matched /
    * not-matched-by-source actions rewrite (`copyOnWrite`) only the files
    * holding affected rows, inserts land in the same commit. Raises on
    * the SQL/Iceberg cardinality rule (one target row matching >1 source
    * row would make both the update value and the join fan-out
    * ambiguous). Candidates: `mergeCandidates`, or every file with WHEN
    * NOT MATCHED BY SOURCE (any unmatched target row may change). One
    * probe join over them finds the affected files AND checks
    * cardinality (group by parquet file/position — no synthetic ids);
    * the rewrite joins only affected-file rows against the source, the
    * insert anti-join only the candidates'; action dispatch is a single
    * codegen'd CASE chain. Condition/assignment Columns use the
    * `__graft_t` / `__graft_s` qualifiers (see RowAction). */
  def mergeInto(spark: SparkSession, source: DataFrame, cond: Column,
      matched: Seq[RowAction], notMatched: Seq[RowAction],
      notMatchedBySource: Seq[RowAction]): Unit = {
    val (v, m) = TableMeta.load(dir)
    // marker column: left-outer rows with no source match have it NULL —
    // source columns alone can't tell (an all-NULL source row is legal)
    val srcMarked = source.withColumn("__graft_m", lit(true)).alias("__graft_s")
    val candidates =
      if (notMatchedBySource.nonEmpty) m.currentSnapshot.map(_.manifest).getOrElse(Nil)
      else mergeCandidates(spark, m, srcMarked, cond)

    // first-applicable-action dispatch: 1..n = matched clauses (row DID
    // match), n+1.. = not-matched-by-source clauses (row did NOT match),
    // 0 = no clause applies (row carried over unchanged)
    val allActs = (matched ++ notMatchedBySource).zipWithIndex
    def firstApplicable(cases: Seq[(Column, Int)]): Column =
      cases.foldLeft(Option.empty[Column]) {
        case (None, (p, n))    => Some(when(p, lit(n)))
        case (Some(c), (p, n)) => Some(c.when(p, lit(n)))
      }.map(_.otherwise(lit(0))).getOrElse(lit(0))
    def assignChain(acts: Seq[(RowAction, Int)], c: ColumnDef, base: Column): Column =
      acts.foldLeft(Option.empty[Column]) {
        case (acc, (a, i)) if !a.delete =>
          a.assigns.find(_._1 == c.name) match {
            case Some((_, e)) =>
              val v2 = e.cast(c.sparkType)
              Some(acc.fold(when(col("__graft_act") === (i + 1), v2))(
                _.when(col("__graft_act") === (i + 1), v2)))
            case None => acc
          }
        case (acc, _) => acc
      }.map(_.otherwise(base)).getOrElse(base)

    val isM = col("__graft_m").isNotNull
    val act = firstApplicable(
      matched.zipWithIndex.map { case (a, i) =>
        (isM && a.condition.getOrElse(lit(true)), i + 1) } ++
      notMatchedBySource.zipWithIndex.map { case (a, i) =>
        (!isM && a.condition.getOrElse(lit(true)), matched.size + i + 1) })
    val deleteIdxs = allActs.collect { case (a, i) if a.delete => i + 1 }
    copyOnWrite(spark, "merge", v, m, Nil, candidates,
      // source rows per target row (0 = unmatched: kept only with WHEN
      // NOT MATCHED BY SOURCE, where every file with a live row changes)
      probe = if (matched.isEmpty && notMatchedBySource.isEmpty) None else Some(live =>
        live.alias("__graft_t")
          .join(srcMarked, cond, if (notMatchedBySource.isEmpty) "inner" else "left_outer")
          .groupBy(col("_graft_fp"), col("_graft_pos"))
          .agg(count(col("__graft_m")).as("__graft_n"))
          .filter(when(col("__graft_n") > 1, raise_error(lit(
            "MERGE cardinality violation: a target row matches more than one source row")))
            .otherwise(lit(true)))),
      shape = { live =>
        val j = live.alias("__graft_t").join(srcMarked, cond, "left_outer")
          .withColumn("__graft_act", act)
        if (deleteIdxs.isEmpty) j else j.filter(!col("__graft_act").isin(deleteIdxs: _*))
      },
      value = c => assignChain(allActs, c, col(s"__graft_t.`${c.name}`")),
      modified = col("__graft_act") > 0,
      inserts = live =>
        if (notMatched.isEmpty) None
        else {
          val ins = firstApplicable(notMatched.zipWithIndex.map { case (a, i) =>
            (a.condition.getOrElse(lit(true)), i + 1) })
          Some(source.alias("__graft_s").join(live.alias("__graft_t"), cond, "left_anti")
            .withColumn("__graft_act", ins).filter(col("__graft_act") > 0)
            .select(m.currentSchema.map(c =>
              assignChain(notMatched.zipWithIndex, c, lit(null).cast(c.sparkType)).as(c.name)): _*))
        })
  }

  /** MERGE candidates: for a conjunct `__graft_t.k = __graft_s.k2` of
    * `cond` over one non-floating type, the files `planFilters` keeps for
    * k in the source's [min(k2), max(k2)] (one aggregate), none when
    * every k2 is NULL; else every file. A matching target row has k = k2
    * for a non-NULL k2, so no match is missed. */
  private def mergeCandidates(spark: SparkSession, m: TableMeta,
      srcMarked: DataFrame, cond: Column): Seq[DataFile] = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    // resolve `cond` against an empty target frame: the analyzer inserts a
    // Cast wherever the key types differ, so a bare attribute pair has one
    val key = readFiles(spark, m, Nil).alias("__graft_t").join(srcMarked, cond)
      .queryExecution.analyzed match {
        case ExtractEquiJoinKeys(_, tKeys, sKeys, _, _, _, source, _) =>
          tKeys.zip(sKeys).collectFirst {
            case (a: AttributeReference, b: AttributeReference) if a.dataType == b.dataType &&
                a.dataType != FloatType && a.dataType != DoubleType => (a.name, source, b)
          }
        case _ => None
      }
    key.fold(planFilters(m, Nil)) { case (name, source, k2) =>
      val k = GraftSqlBridge.column(k2)
      val r = GraftSqlBridge.ofRows(spark, source).agg(min(k), max(k)).head()
      if (r.isNullAt(0)) Nil
      else planFilters(m, Seq(GreaterThanOrEqual(name, r.get(0)), LessThanOrEqual(name, r.get(1))))
    }
  }

  /** H2 `CALL system.rewrite_data_files` (README.md:328): compact the
    * current snapshot's files into `targetFiles`; logical content is
    * unchanged (replace snapshot). With `sortBy`, files are
    * range-partitioned and sorted on those columns — disjoint per-file
    * key ranges, so parquet row-group stats (and any future manifest
    * min/max) skip files on point/range lookups. With `zorderBy`, rows
    * are sorted by a Morton interleave of the named numeric columns
    * instead: min/max stats stay tight on EVERY listed column, so
    * planFilters prunes on any of them — the multi-dimension
    * layout a single-column sort can't give (Delta/Iceberg's OPTIMIZE
    * ZORDER). */
  def rewriteDataFiles(spark: SparkSession, targetFiles: Int = -1,
      sortBy: Seq[String] = Nil, zorderBy: Seq[String] = Nil,
      curve: String = "morton", targetSizeBytes: Option[Long] = None): Unit = {
    require(sortBy.isEmpty || zorderBy.isEmpty, "sortBy and zorderBy are exclusive")
    require(curve == "morton" || (curve == "hilbert" && (zorderBy.isEmpty || zorderBy.size == 2)),
      s"curve '$curve' unsupported (morton: 1-4 columns; hilbert: exactly 2)")
    val (v, m) = TableMeta.load(dir)
    val manifest = m.currentSnapshot.map(_.manifest).getOrElse(Nil)
    if (manifest.isEmpty) return
    // Size-based binpack (Iceberg's target-file-size-bytes): output file
    // count from recorded manifest byte sizes — pure metadata, no
    // filesystem stat storm. Legacy entries without sizes estimate via
    // the manifest-wide bytes/row. At 100 TB "compact to N files" is
    // meaningless; "compact to 512 MB files" is the actual policy.
    // precedence: explicit targetSizeBytes > explicit targetFiles (any
    // positive value, including 1 — "compact to one file" must stay
    // possible with the property set) > table property > 1
    val sizeTarget = targetSizeBytes.orElse(
      if (targetFiles > 0) None
      else m.allProperties.get("write.target-file-size-bytes").flatMap(v =>
        scala.util.Try(v.toLong).toOption.filter(_ > 0)))
    val effectiveTarget = sizeTarget match {
      case None => if (targetFiles > 0) targetFiles else 1
      case Some(tgt) =>
        require(tgt > 0, "targetSizeBytes must be positive")
        val known = manifest.flatMap(f => f.sizeBytes.map(_.toDouble))
        val knownRows = manifest.filter(_.sizeBytes.isDefined).map(_.rows).sum
        val bytesPerRow = if (knownRows > 0) known.sum / knownRows else 64.0
        val total = manifest.map(f =>
          f.sizeBytes.map(_.toDouble).getOrElse(f.rows * bytesPerRow)).sum
        math.max(1, math.ceil(total / tgt).toInt)
    }
    // compaction folds MoR deletes into the rewrite and clears them —
    // the new snapshot is pure data files again. Row lineage is
    // MATERIALIZED into the compacted files (ids + last-updated seqs
    // survive the relayout — v3's rewrite obligation).
    val base = readLive(spark, m, m.currentSnapshot, manifest, lineage = true)
      .select(m.currentSchema.map(c => col(c.name)) ++
        Seq(col("_graft_row_id"), col("_graft_last_seq")): _*)
    // preClustered: this method owns the row clustering — writeFiles must
    // NOT re-repartition by the partition column afterwards (that would
    // discard targetFiles and destroy the within-partition sort order the
    // disjoint-range stats pruning depends on). For an unsorted compaction
    // of a partitioned table, clustering by partition value IS the right
    // layout, so writeFiles' default clustering handles it.
    def zorderCluster(): DataFrame = {
      zorderBy.foreach { c =>
        require(m.currentSchema.find(_.name == c).exists(_.sparkType.isInstanceOf[NumericType]),
          s"zorder column $c must be numeric") }
      // one distributed pass for per-column bounds (a 2N-value driver
      // fetch — metadata-sized, like a centroid probe, NOT a data pull);
      // at 100 TB these could equally come from the manifest stats
      val aggs = zorderBy.flatMap(c =>
        Seq(min(col(c)).cast(DoubleType), max(col(c)).cast(DoubleType)))
      val bounds = base.agg(aggs.head, aggs.tail: _*).head()
      val lohi = zorderBy.zipWithIndex.map { case (c, idx) =>
        val lo = if (bounds.isNullAt(idx * 2)) 0.0 else bounds.getDouble(idx * 2)
        val hi = if (bounds.isNullAt(idx * 2 + 1)) 0.0 else bounds.getDouble(idx * 2 + 1)
        (c, lo, hi)
      }
      // min-max scale each column to 16 bits, interleave natively, then
      // range-partition + sort on the curve position. NULL→0 and a
      // degenerate (min==max) column→0 are layout choices only — reads
      // re-apply exact predicates, clustering never changes results.
      val scaled = lohi.map { case (c, lo, hi) =>
        if (hi <= lo) lit(0)
        else least(lit(65535), greatest(lit(0),
          ((coalesce(col(c).cast(DoubleType), lit(lo)) - lit(lo)) *
            (65535.0 / (hi - lo))).cast(IntegerType)))
      }
      val zcol =
        if (curve == "hilbert")
          graft.functions.HilbertIndexF.hilbert(scaled(0), scaled(1))
        else graft.functions.InterleaveBitsF.interleave(scaled)
      // partitioned tables cluster by (partition value, curve position):
      // each output file then lands in ~one partition dir (no small-files
      // fan-out from partitionBy) and is curve-sorted within it — the
      // same "z-order within partitions" layout Iceberg's zorder keeps
      val keys = partLeadCols :+ col("__graft_zval")
      base.withColumn("__graft_zval", zcol)
        .repartitionByRange(effectiveTarget, keys: _*)
        .sortWithinPartitions(keys: _*)
        .drop("__graft_zval")
    }
    // sorted compaction of a PARTITIONED table must lead the range keys
    // with the partition value: otherwise each of the targetFiles range
    // partitions spans every day and partitionBy fans out to
    // targetFiles × n_days small files (the anti-pattern writeFiles'
    // default clustering exists to prevent)
    def partLeadCols: Seq[org.apache.spark.sql.Column] = {
      val idToName = m.currentSchema.map(c => c.id -> c.name).toMap
      val typeOf = m.currentSchema.map(c => c.name -> c.sparkType).toMap
      m.partitionFields.flatMap { pf =>
        idToName.get(pf.sourceId)
          .map(src => Transforms.column(pf.transform, col(src), typeOf(src)))
      }
    }
    val (df, preClustered) =
      if (zorderBy.nonEmpty) (zorderCluster(), true)
      else if (sortBy.nonEmpty) {
        val keys = partLeadCols ++ sortBy.map(col)
        (base.repartitionByRange(effectiveTarget, keys: _*)
          .sortWithinPartitions(keys: _*), true)
      }
      else if (m.partitionFields.nonEmpty) (base, false)
      else (base.repartition(effectiveTarget), true)
    val newFiles = writeFiles(spark, m, df, preClustered, lineageMaterialized = true)
    TableMeta.commit(dir, v, appendSnapshot(m, "replace", newFiles, Nil))
  }

  /** `CALL system.rewrite_manifests` (Iceberg's manifest-compaction
    * maintenance, the metadata dual of rewrite_data_files). Structural
    * sharing keeps each append O(1) — at the cost of one delta chunk
    * file per append, so after N appends the CURRENT snapshot's manifest
    * is the concatenation of N chunk reads (N file opens on a cold
    * load; at 100 TB with thousands of appends this is the manifest
    * fan-out Iceberg's rewrite_manifests exists to fold). Consolidates
    * the current snapshot's chunk list into ONE full chunk — a pure
    * metadata reorganization: same data files, same stats, same
    * snapshot id, so time travel / incremental / streaming reads are
    * byte-identical before and after. Older version documents keep
    * referencing the old chunks (history stays readable); once
    * expire_snapshots retires those documents the chunks lose their
    * last reference and remove_orphan_files' chunk-liveness pass sweeps
    * them. Returns (chunksBefore, chunksAfter); no-op (no commit) below
    * `minInputChunks` — an unconditional commit would publish pure
    * metadata churn per call. */
  def rewriteManifests(minInputChunks: Int = 2): (Int, Int) = {
    def chunks(m: TableMeta): Int =
      m.currentSnapshot.flatMap(_.manifestRefs).map(_.size).getOrElse(0)
    val before = chunks(meta)
    if (before < minInputChunks) return (before, before)
    // every retry attempt that writes a consolidated chunk and then loses
    // the version CAS strands that chunk unreferenced. The refs are
    // fresh UUIDs known ONLY to this process until a commit publishes
    // one, so the winner is trackable locally: it is the ref written by
    // the FINAL update invocation iff that invocation took the
    // consolidation branch AND the commit landed. Everything else this
    // process wrote is a loser — swept in a finally, because a
    // commitRetry that exhausts its attempts (the case producing the
    // most losers) must still clean up after itself.
    val written = scala.collection.mutable.ArrayBuffer.empty[String]
    var lastRef: String = null
    var committed = false
    try {
      TableMeta.commitRetry(dir) { m =>
        m.currentSnapshot match {
          // re-check inside the retry loop: a racing writer may have
          // moved the current snapshot; consolidating ITS manifest is
          // still correct (reapplicable update), consolidating a 0/1
          // chunk list is skipped
          case Some(cur) if cur.manifestRefs.exists(_.size >= minInputChunks) =>
            val ref = TableMeta.writeChunk(dir.resolve("meta"), cur.manifest)
            written += ref
            lastRef = ref
            m.copy(snapshots = m.snapshots.map(s =>
              if (s.snapshotId == cur.snapshotId) s.copy(manifestRefs = Some(Seq(ref)))
              else s))
          case _ =>
            lastRef = null // no-op signal: nothing of ours gets published
            m
        }
      }
      committed = true
    } finally {
      val winner = if (committed) lastRef else null
      written.filterNot(_ == winner)
        .foreach(r => GraftIO.delete(dir.resolve("meta").resolve(r)))
    }
    (before, chunks(meta))
  }

  /** H1 `CALL system.expire_snapshots(older_than, retain_last)`
    * (README.md:319-322): drop expired snapshots from metadata, then
    * physically delete data files no surviving snapshot references. */
  def expireSnapshots(olderThanMs: Long, retainLast: Int = 1): Unit = {
    def plan(m: TableMeta): (Seq[Snapshot], Seq[Snapshot]) = {
      val byIdDesc = m.snapshots.sortBy(-_.snapshotId)
      val pinned = m.allRefs.values.map(_.snapshotId).toSet
      val keep = (byIdDesc.take(retainLast) ++
        m.snapshots.filter(s => s.timestampMs >= olderThanMs) ++
        m.snapshots.filter(s => pinned(s.snapshotId)) ++ // refs pin
        m.currentSnapshot.toSeq).distinct
      (keep, m.snapshots.filterNot(s => keep.exists(_.snapshotId == s.snapshotId)))
    }
    // nothing expires → return before any work. (commitRetry's no-op
    // signal would also skip the publish, but this pre-check avoids even
    // entering the retry loop — and documents that an empty plan is the
    // COMMON case for scheduled maintenance.)
    if (plan(TableMeta.load(dir)._2)._2.isEmpty) return
    var orphans = Set.empty[String]
    var changed = false
    TableMeta.commitRetry(dir) { m =>
      val (keep, dropped) = plan(m)
      changed = dropped.nonEmpty
      if (!changed) m
      else {
        def paths(s: Snapshot) = s.manifest.map(_.path) ++
          s.allDeleteFiles.map(_.path) ++ s.allEqDeleteFiles.map(_.path) ++
          s.allDeleteVectors.map(_.path)
        // manifest CHUNK files GC like data files: a chunk referenced
        // only by dropped snapshots dies with them (shared prefix chunks
        // survive through the keep set's refs)
        def chunkPaths(s: Snapshot) =
          s.manifestRefs.getOrElse(Nil).map(r => s"meta/$r")
        val liveFiles = (keep.flatMap(paths) ++ keep.flatMap(chunkPaths)).toSet
        orphans = (dropped.flatMap(paths) ++ dropped.flatMap(chunkPaths))
          .toSet -- liveFiles
        // fold expired snapshots' streaming replay keys into the
        // per-query max-batchId watermark: exactly-once detection must
        // not die with the snapshot that carried the key, and a bounded
        // map (not a key list) keeps metadata O(queries) forever
        val expiredKeys = dropped.flatMap(_.streamBatch).flatMap { k =>
          k.lastIndexOf('#') match {
            case i if i > 0 => k.substring(i + 1).toLongOption.map(k.substring(0, i) -> _)
            case _          => None
          }
        }
        val retired = expiredKeys.foldLeft(m.retiredStreamBatches.getOrElse(Map.empty)) {
          case (acc, (q, b)) => acc.updated(q, math.max(b, acc.getOrElse(q, Long.MinValue)))
        }
        m.copy(snapshots = keep.sortBy(_.snapshotId),
          retiredStreamBatches = if (retired.isEmpty) None else Some(retired))
      }
    }
    // physical GC only after the metadata commit landed: a failed commit
    // must never leave a surviving snapshot pointing at deleted files.
    // Borrowed files (a shallow clone registers the SOURCE table's files
    // by absolute path, cloneTo below) are never this table's to GC —
    // HPath.resolve of an absolute child returns the child, so deleting
    // them would physically destroy the source table. Guard: only paths
    // that resolve to somewhere under THIS table's dir are deleted;
    // Delta/Iceberg shallow clones likewise never vacuum borrowed files.
    if (changed) orphans.foreach { p =>
      val target = dir.resolve(p)
      if (scala.util.Try(GraftIO.relativize(dir, target)).isSuccess)
        GraftIO.delete(target)
    }
  }

  /** Incremental (CDC-style) scan: rows in files ADDED after `fromSnapshotId`
    * up to and including `toSnapshotId` — "what's new since my checkpoint",
    * the consumer pattern downstream pipelines poll a table with. Matches
    * Iceberg's incremental APPEND scan semantics: it surfaces appended
    * rows by manifest diff (metadata-only planning — no data diffing);
    * rewrites (compaction) re-surface rows unless the consumer tracks
    * operations via .history, and row-level deletes are invisible — both
    * standard caveats of append-scan CDC. */
  def readIncremental(spark: SparkSession, fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val m = meta
    require(fromSnapshotId <= toSnapshotId,
      s"fromSnapshotId $fromSnapshotId > toSnapshotId $toSnapshotId")
    val fromFiles = m.snapshot(fromSnapshotId).manifest.map(_.path).toSet
    val added = m.snapshot(toSnapshotId).manifest.filterNot(f => fromFiles.contains(f.path))
    readFiles(spark, m, added)
  }

  /** Streaming-source planning: rows added by the snapshots at lineage
    * positions (fromOrdinal, toOrdinal] of the snapshot list (commit
    * order). Each snapshot contributes its manifest-diff vs its
    * predecessor — metadata-only planning, no data scan. Non-append
    * snapshots (delete/update/merge/replace/overwrite) REWRITE files, so
    * their diff would re-emit old rows into the stream; by default they
    * fail the read (Iceberg's streaming read errors the same way), or
    * are skipped as row-sources when `skipRewrites` is set (their
    * rewritten files are never emitted, matching "the stream carries
    * appends only"). */
  def readSnapshotRange(
      spark: SparkSession, fromOrdinal: Int, toOrdinal: Int,
      skipRewrites: Boolean = false): DataFrame = {
    val m = meta
    val snaps = m.snapshots
    require(fromOrdinal >= 0 && toOrdinal <= snaps.size && fromOrdinal <= toOrdinal,
      s"bad snapshot range ($fromOrdinal, $toOrdinal] over ${snaps.size} snapshots")
    require(toOrdinal <= m.publishedPrefix,
      s"snapshot range ($fromOrdinal, $toOrdinal] crosses an unpublished " +
        s"branch-staged snapshot (published prefix = ${m.publishedPrefix})")
    val added = (fromOrdinal until toOrdinal).flatMap { i =>
      val s = snaps(i)
      if (s.operation != "append") {
        if (!skipRewrites) throw new IllegalStateException(
          s"streaming read hit non-append snapshot ${s.snapshotId} (${s.operation}); " +
            "restart the stream from latest or enable skip-rewrites")
        Nil
      } else {
        val prev = if (i == 0) Set.empty[String]
          else snaps(i - 1).manifest.map(_.path).toSet
        s.manifest.filterNot(f => prev.contains(f.path))
      }
    }
    readFiles(spark, m, added)
  }

  /** CDC changelog — row-level changes committed by the snapshots at
    * lineage positions (fromOrdinal, toOrdinal], Iceberg's
    * create_changelog_view equivalent. Each row of the result is a data
    * row plus `_change_type` ('insert' | 'delete') and
    * `_commit_snapshot_id`.
    *
    * Semantics per snapshot operation:
    *  - append: its manifest-diff rows emit as 'insert'.
    *  - MoR delete: exactly the deleted rows emit as 'delete' (the new
    *    delete files' positions join back to their base files — only the
    *    AFFECTED files are scanned, pruned via the distinct file paths in
    *    the delete entries, a metadata-sized collect).
    *  - CoW ops (delete/update/merge/overwrite/replace): FILE-level diff,
    *    like Iceberg's changelog without net_changes — removed files'
    *    rows emit as 'delete', added files' rows as 'insert', so a
    *    rewritten-but-unchanged row appears as delete+insert. Exact
    *    net per-row changes are the MoR path's job.
    */
  def readChanges(spark: SparkSession, fromOrdinal: Int, toOrdinal: Int): DataFrame = {
    val m = meta
    val snaps = m.snapshots
    require(fromOrdinal >= 0 && toOrdinal <= snaps.size && fromOrdinal <= toOrdinal,
      s"bad snapshot range ($fromOrdinal, $toOrdinal] over ${snaps.size} snapshots")
    def tag(df: DataFrame, tpe: String, snapId: Long): DataFrame =
      df.withColumn("_change_type", lit(tpe))
        .withColumn("_commit_snapshot_id", lit(snapId))
    val parts = (fromOrdinal until toOrdinal).flatMap { i =>
      val s = snaps(i)
      val prevManifest = if (i == 0) Nil else snaps(i - 1).manifest
      val prevPaths = prevManifest.map(_.path).toSet
      val curPaths = s.manifest.map(_.path).toSet
      val added = s.manifest.filterNot(f => prevPaths.contains(f.path))
      val removed = prevManifest.filterNot(f => curPaths.contains(f.path))
      val prevDel =
        if (i == 0) Set.empty[String]
        else snaps(i - 1).allDeleteFiles.map(_.path).toSet
      val newDeleteFiles = s.allDeleteFiles.filterNot(f => prevDel.contains(f.path))
      val inserts =
        if (added.isEmpty) None
        else Some(tag(readFiles(spark, m, added), "insert", s.snapshotId))
      val cowDeletes =
        if (removed.isEmpty) None
        else Some(tag(readFiles(spark, m, removed), "delete", s.snapshotId))
      val morDeletes =
        if (newDeleteFiles.isEmpty) None
        else {
          val entries = spark.read
            .parquet(newDeleteFiles.map(f => dir.resolve(f.path).toString): _*)
            .select(col("file_path").as("_graft_fp"), col("pos").as("_graft_pos"))
          // scan only the AFFECTED base files
          Some(tag(
            readFiles(spark, m, filesOf(s.manifest, entries), withPos = true)
              .join(entries, Seq("_graft_fp", "_graft_pos"), "left_semi")
              .drop("_graft_fp", "_graft_pos"),
            "delete", s.snapshotId))
        }
      // deletion vectors: a changed vector's DELTA is its positions MINUS
      // the vector it superseded (the v3 merge rule makes the new vector
      // a superset) — exactly the rows this commit killed. Set difference
      // runs inside the per-vector decode task; positions never gather on
      // the driver.
      val prevDvByFile =
        (if (i == 0) Nil else snaps(i - 1).allDeleteVectors)
          .map(d => d.dataPath -> d).toMap
      // a rewrite-deletes fold re-encodes EXISTING deletes (positional
      // files + prior vectors) as fresh merged vectors: its "changed"
      // vectors carry zero new row deletions, so emitting their deltas
      // would re-report rows already reported when the originals landed
      val changedDvs =
        if (s.operation == "rewrite-deletes") Nil
        else s.allDeleteVectors
          .filter(d => !prevDvByFile.get(d.dataPath).exists(_.path == d.path))
      val dvDeletes =
        if (changedDvs.isEmpty) None
        else {
          import spark.implicits._
          val dirStr = dir.toString
          val triples = changedDvs.map(d => (dataSuffix(d.dataPath), d.path,
            prevDvByFile.get(d.dataPath).map(_.path)))
          val entries = spark.createDataset(triples)
            .flatMap { case (sfx, cur, prior) =>
              val base = new HPath(dirStr)
              val old = prior.map(p => Dv.read(base.resolve(p)).toSet)
                .getOrElse(Set.empty[Long])
              Dv.read(base.resolve(cur)).iterator
                .filterNot(old).map(p => (sfx, p)) }
            .toDF("_graft_dfp", "_graft_pos")
          val sfxSet = triples.map(_._1).toSet
          val affected = s.manifest.filter(f => sfxSet(dataSuffix(f.path)))
          Some(tag(
            readFiles(spark, m, affected, withPos = true)
              .withColumn("_graft_dfp",
                substring_index(col("_graft_fp"), "/data/", -1))
              .join(entries, Seq("_graft_dfp", "_graft_pos"), "left_semi")
              .drop("_graft_dfp", "_graft_fp", "_graft_pos"),
            "delete", s.snapshotId))
        }
      // equality deletes: the deleted rows are the PREVIOUS live state's
      // rows matching any new key file (all prior files pass the seq
      // guard by construction — they predate this commit)
      val prevEq = if (i == 0) Set.empty[String]
        else snaps(i - 1).allEqDeleteFiles.map(_.path).toSet
      val newEqFiles = s.allEqDeleteFiles.filterNot(f => prevEq.contains(f.path))
      val eqDeletes =
        if (newEqFiles.isEmpty || prevManifest.isEmpty) None
        else {
          val prevLive = readLive(spark, m, Some(snaps(i - 1)), prevManifest)
          val matched = newEqFiles.map { ed =>
            val keys = eqDeleteKeys(spark, ed)
            // null-safe match, same as applyEqDeletes: a delete keyed on
            // a NULL tuple removes NULL-keyed rows, and the changelog
            // must report exactly what the read path applied
            val cond = eqDeleteCurrentNames(ed)
              .map(c => prevLive(c) <=> keys(c)).reduce(_ && _)
            prevLive.join(broadcast(keys), cond, "left_semi")
          }.reduce(_.unionByName(_)).dropDuplicates()
            .drop("_graft_fp", "_graft_pos")
          Some(tag(matched, "delete", s.snapshotId))
        }
      Seq(inserts, cowDeletes, morDeletes, dvDeletes, eqDeletes).flatten
    }
    parts.reduceOption(_.unionByName(_)).getOrElse(
      tag(readFiles(spark, m, Nil), "", 0L).limit(0))
  }

  /** Maintenance: delete files under data/ that NO snapshot references —
    * debris of crashed writes and aborted commits (a writeFiles that never
    * reached its commit). `olderThanMs` guards in-flight writers: only
    * files last modified before the cutoff are touched (Iceberg's
    * remove_orphan_files has the same guard for the same reason — an
    * orphan scan racing an uncommitted write must not eat its files).
    * Returns the deleted relative paths. */
  def removeOrphanFiles(olderThanMs: Long): Seq[String] = {
    val (_, m) = TableMeta.load(dir)
    val referenced = m.snapshots
      .flatMap(s => s.manifest.map(_.path) ++ s.manifest.flatMap(_.bloom) ++
        s.allDeleteFiles.map(_.path) ++
        s.allEqDeleteFiles.map(_.path) ++
        s.allDeleteVectors.map(_.path)).toSet
    val dataDir = dir.resolve("data")
    if (!GraftIO.isDirectory(dataDir)) return Nil
    val orphans = GraftIO.listFilesRecursive(dataDir)
      .filter(st => !referenced.contains(GraftIO.relativize(dir, st.getPath))
        && st.getModificationTime < olderThanMs)
      .map(_.getPath)
    orphans.foreach(GraftIO.delete)
    // empty leftover directories are cosmetic; sweep the easy ones
    orphans.map(_.getParent).distinct.foreach { d2 =>
      try if (GraftIO.isDirectory(d2) && GraftIO.list(d2).isEmpty) GraftIO.delete(d2)
      catch { case _: Exception => () }
    }
    // manifest-chunk debris: man-*.json written by commit attempts that
    // lost their race. A chunk is live if ANY existing version document
    // references it — if any document fails to parse, skip chunk GC
    // entirely (never guess about liveness).
    val metaDir = dir.resolve("meta")
    val chunkOrphans: Seq[HPath] =
      try {
        val all = GraftIO.list(metaDir)
        val docs = all.filter(_.getPath.getName.matches("v\\d+\\.json"))
        val live = docs.flatMap(st => TableMeta.readRefsOnly(st.getPath)).toSet
        all.filter(st => st.getPath.getName.startsWith("man-")
          && !live.contains(st.getPath.getName)
          && st.getModificationTime < olderThanMs).map(_.getPath)
      } catch { case scala.util.control.NonFatal(_) => Nil }
    chunkOrphans.foreach(GraftIO.delete)
    // crashed-committer staging debris: TableMeta.commit stages the
    // version document (v<N>-*.tmp) and the hint swap (hint*.tmp)
    // in meta/ and deletes them in a finally — which a hard kill skips.
    // Staging files are never referenced by anything, so age alone
    // makes them safe to sweep.
    val tmpOrphans: Seq[HPath] =
      try GraftIO.list(metaDir)
        .filter(st => st.getPath.getName.endsWith(".tmp")
          && st.getModificationTime < olderThanMs)
        .map(_.getPath)
      catch { case scala.util.control.NonFatal(_) => Nil }
    tmpOrphans.foreach(GraftIO.delete)
    (orphans ++ chunkOrphans ++ tmpOrphans).map(p => GraftIO.relativize(dir, p))
  }

  /** SHALLOW CLONE (Delta `CLONE` / the Iceberg snapshot-export
    * pattern): a NEW independent table whose first snapshot REFERENCES
    * the source's current data/delete files by absolute path — zero
    * data bytes copied, O(manifest) metadata cost. The clone evolves
    * independently afterwards: its appends/deletes/compactions land in
    * its own dir and never touch the source (CoW rewrites naturally
    * migrate borrowed files into clone-owned ones). Dev/test forks and
    * "pin the exact table state an experiment trained on" are the use
    * case.
    *
    * CAVEAT (Delta's shallow clones share it): the clone BORROWS the
    * source's files. Destructive maintenance on the SOURCE that
    * physically deletes files a clone still references — a compaction
    * rewrite followed by expire_snapshots GC — breaks the clone;
    * remove_orphan_files cannot even see clone references. Production
    * systems track clone references in the catalog or deep-copy before
    * GC; here the hazard is documented and CloneSpec pins the sharing
    * semantics. */
  def cloneTo(cat: GraftCatalog, qualified: String): GraftTable = {
    val m = meta
    val cur = m.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"cannot clone empty table ${m.name}"))
    def absD(f: DataFile) = f.copy(
      path = dir.resolve(f.path).toString,
      bloom = f.bloom.map(b => dir.resolve(b).toString))
    def absE(f: EqDeleteFile) = f.copy(path = dir.resolve(f.path).toString)
    val t = cat.createTable(qualified, m.sparkSchema(m.currentSchemaId))
    // The clone's first snapshot keeps the SOURCE's current snapshot id
    // (not 1): borrowed files and eq-delete entries carry source-era
    // sequence numbers (seq = the source snapshot id that committed
    // them, all <= cur.snapshotId), and appendSnapshot derives the next
    // seq from max(snapshot ids) + 1 — restarting at 1 would stamp
    // post-clone appends with seqs BELOW borrowed eq-deletes, which
    // would then silently eat the new rows (Iceberg v2's rule: an
    // eq-delete applies only to files with a smaller sequence).
    TableMeta.commitRetry(t.dir) { base =>
      base.copy(
        schemas = m.schemas,
        currentSchemaId = m.currentSchemaId,
        lastColumnId = m.lastColumnId,
        partitionFields = m.partitionFields,
        sortOrderIds = m.sortOrderIds,
        tableProperties = m.tableProperties,
        nextRowId = m.nextRowId, // lineage ids keep advancing, never reused
        snapshots = Seq(Snapshot(cur.snapshotId, None,
          System.currentTimeMillis(), "append",
          cur.manifest.map(absD),
          deleteFiles = cur.deleteFiles.map(_.map(absD)),
          eqDeleteFiles = cur.eqDeleteFiles.map(_.map(absE)),
          // dataPath absolutized WITH the manifest entry it names (the
          // read join key is its /data/ suffix, stable either way)
          deleteVectors = cur.deleteVectors.map(_.map(dv => dv.copy(
            dataPath = dir.resolve(dv.dataPath).toString,
            path = dir.resolve(dv.path).toString))))),
        currentSnapshotId = Some(cur.snapshotId))
    }
    new GraftTable(t.dir)
  }

  /** DEEP CLONE (Iceberg snapshot export / Delta `CLONE` without
    * SHALLOW): materialize the current snapshot into a FULLY
    * INDEPENDENT table — every referenced data / delete / eq-delete /
    * bloom file is byte-copied under the clone's own dir and the
    * manifest stays table-relative, so no destructive maintenance on
    * the source (compaction + expire GC, the documented shallow-clone
    * hazard) can ever touch the clone. Cost is O(data) by definition;
    * at cluster scale the byte copy fans out as a job over the file
    * list (embarrassingly parallel, manifest-sized planning) — here it
    * runs driver-side over the fixture-sized manifest. Sources whose
    * manifests carry ABSOLUTE entries (a shallow clone, an add_files
    * registration) are normalized to fresh relative paths, so a deep
    * clone of a shallow clone fully detaches it. Sequence numbers and
    * the snapshot id are preserved (the cloneTo rationale: seq order
    * decides eq-delete applicability). */
  def deepCloneTo(cat: GraftCatalog, qualified: String): GraftTable = {
    val m = meta
    val cur = m.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"cannot clone empty table ${m.name}"))
    def isAbs(p: String) = p.startsWith("/") || p.contains(":/")
    // positional delete entries record scan URIs; for "data/"-relative
    // files the suffix-normalized join (deleteEntries) survives the
    // copy, but externally-registered absolute entries have no stable
    // suffix to remap — refuse loudly instead of silently un-applying
    // the deletes on the clone
    require(cur.deleteFiles.forall(_.isEmpty) ||
        !cur.manifest.exists(f => isAbs(f.path)),
      "deep clone with positional deletes over externally-registered " +
        "(absolute-path) data files is unsupported — run rewriteDataFiles first")
    val t = cat.createTable(qualified, m.sparkSchema(m.currentSchemaId))
    var n = 0
    def rel(p: String): String =
      if (!isAbs(p)) p
      else { n += 1; s"data/deep-$n-${new HPath(p).getName}" }
    def copy(p: String): String = {
      val r = rel(p)
      GraftIO.copyFile(dir.resolve(p), t.dir.resolve(r))
      r
    }
    def deepD(f: DataFile) = f.copy(path = copy(f.path), bloom = f.bloom.map(copy))
    def deepE(f: EqDeleteFile) = f.copy(path = copy(f.path))
    // copy BEFORE the commit closure: commitRetry may run its update
    // more than once, and the byte copies are side effects (re-running
    // them would mint fresh deep-N names per attempt and strand the
    // previous attempt's copies)
    val manifestPairs = cur.manifest.map(f => f.path -> deepD(f))
    val manifest = manifestPairs.map(_._2)
    val deletes = cur.deleteFiles.map(_.map(deepD))
    val eqDeletes = cur.eqDeleteFiles.map(_.map(deepE))
    // deletion vectors byte-copy like delete files; dataPath remaps
    // through the manifest's old→new mapping (unlike positional parquet,
    // whose file_path strings live INSIDE the data and can't be remapped
    // without a rewrite — the require above), so DV-carrying tables deep
    // clone even over absolute/borrowed entries
    val newPathByOld = manifestPairs.map { case (old, nf) => old -> nf.path }.toMap
    val dvs = cur.deleteVectors.map(_.map(d => DeleteVector(
      newPathByOld.getOrElse(d.dataPath, d.dataPath), copy(d.path), d.cardinality)))
    // if the commit ultimately fails the copies are debris in an
    // arbitrary target warehouse (unlike Scratch fixtures) — sweep them
    // best-effort before rethrowing
    def sweepCopies(): Unit =
      (manifest.flatMap(f => f.path +: f.bloom.toSeq) ++
        deletes.toSeq.flatten.flatMap(f => f.path +: f.bloom.toSeq) ++
        eqDeletes.toSeq.flatten.map(_.path) ++
        dvs.toSeq.flatten.map(_.path)).foreach { p =>
        try GraftIO.delete(t.dir.resolve(p)) catch { case _: Throwable => () }
      }
    try TableMeta.commitRetry(t.dir) { base =>
      base.copy(
        schemas = m.schemas,
        currentSchemaId = m.currentSchemaId,
        lastColumnId = m.lastColumnId,
        partitionFields = m.partitionFields,
        sortOrderIds = m.sortOrderIds,
        tableProperties = m.tableProperties,
        nextRowId = m.nextRowId,
        snapshots = Seq(Snapshot(cur.snapshotId, None,
          System.currentTimeMillis(), "append",
          manifest, deleteFiles = deletes, eqDeleteFiles = eqDeletes,
          deleteVectors = dvs)),
        currentSnapshotId = Some(cur.snapshotId))
    } catch { case e: Throwable => sweepCopies(); throw e }
    new GraftTable(t.dir)
  }

  // ---------------------------------------------------------------- refs

  /** Create an immutable TAG pointing at `snapshotId` (Iceberg's
    * `ALTER TABLE t CREATE TAG`): a durable name for a table state —
    * audit marks, "the snapshot this model trained on". Tagged snapshots
    * survive expireSnapshots. */
  def createTag(name: String, snapshotId: Long): Unit =
    addRef(name, snapshotId, branch = false)

  /** Create a BRANCH at `snapshotId` (default: current snapshot). Unlike
    * a tag it may be moved later (setBranch / fastForwardBranch). */
  def createBranch(name: String, snapshotId: Option[Long] = None): Unit =
    TableMeta.commitRetry(dir) { m =>
      val sid = snapshotId.orElse(m.currentSnapshotId).getOrElse(
        throw new IllegalArgumentException(s"table $dir has no snapshot to branch from"))
      validateNewRef(m, name, sid)
      m.copy(refs = Some(m.allRefs + (name -> SnapshotRef(sid, branch = true))))
    }

  private def addRef(name: String, snapshotId: Long, branch: Boolean): Unit =
    TableMeta.commitRetry(dir) { m =>
      validateNewRef(m, name, snapshotId)
      m.copy(refs = Some(m.allRefs + (name -> SnapshotRef(snapshotId, branch))))
    }

  private def validateNewRef(m: TableMeta, name: String, sid: Long): Unit = {
    m.snapshot(sid) // unknown snapshot -> error
    require(!m.allRefs.contains(name), s"ref $name already exists")
  }

  /** Move a BRANCH to `snapshotId`; tags are immutable by definition. */
  def setBranch(name: String, snapshotId: Long): Unit =
    TableMeta.commitRetry(dir) { m =>
      val ref = m.allRefs.getOrElse(name,
        throw new IllegalArgumentException(s"no ref $name"))
      require(ref.branch, s"ref $name is a tag; tags are immutable")
      m.snapshot(snapshotId)
      m.copy(refs = Some(m.allRefs + (name -> ref.copy(snapshotId = snapshotId))))
    }

  /** Advance a branch to the current snapshot (Iceberg's fast_forward). */
  def fastForwardBranch(name: String): Unit =
    TableMeta.commitRetry(dir) { m =>
      val ref = m.allRefs.getOrElse(name,
        throw new IllegalArgumentException(s"no ref $name"))
      require(ref.branch, s"ref $name is a tag; tags are immutable")
      val sid = m.currentSnapshotId.getOrElse(
        throw new IllegalStateException(s"table $dir has no current snapshot"))
      m.copy(refs = Some(m.allRefs + (name -> ref.copy(snapshotId = sid))))
    }

  def dropRef(name: String): Unit =
    TableMeta.commitRetry(dir) { m =>
      require(m.allRefs.contains(name), s"no ref $name")
      val rest = m.allRefs - name
      m.copy(refs = if (rest.isEmpty) None else Some(rest))
    }

  def resolveRef(name: String): Long =
    meta.allRefs.getOrElse(name,
      throw new IllegalArgumentException(s"no ref $name in table $dir")).snapshotId

  /** Read the table as of a named ref (tag or branch). */
  def readRef(spark: SparkSession, name: String): DataFrame =
    readVersion(spark, resolveRef(name))

  /** `CALL system.rollback_to_snapshot` — point the table back at an
    * older snapshot (metadata-only; the abandoned snapshots stay readable
    * via time travel until expired). */
  def rollbackTo(snapshotId: Long): Unit =
    TableMeta.commitRetry(dir) { m =>
      m.snapshot(snapshotId) // throws if unknown
      m.copy(currentSnapshotId = Some(snapshotId))
    }

  /** `CALL system.cherrypick_snapshot` — re-apply an abandoned APPEND
    * snapshot's added files on top of the current snapshot: the recovery
    * move after a rollback orphaned work you want back (Iceberg
    * restricts cherry-picks to appends/dynamic overwrites for the same
    * reason we do — replaying a rewrite against a diverged base is not
    * well-defined). Metadata-only: the data files already exist; they
    * keep their original data sequence, so equality deletes committed
    * after the original append still apply to them. */
  def cherrypick(snapshotId: Long): Unit =
    TableMeta.commitRetry(dir) { m =>
      val src = m.snapshot(snapshotId)
      require(src.operation == "append",
        s"cherry-pick supports append snapshots, got '${src.operation}'")
      val parentPaths = src.parentId match {
        case None => Set.empty[String]
        case Some(pid) => m.snapshots.find(_.snapshotId == pid)
          .getOrElse(throw new IllegalArgumentException(
            s"cannot cherry-pick $snapshotId: its parent $pid was expired"))
          .manifest.map(_.path).toSet
      }
      val added = src.manifest.filterNot(f => parentPaths.contains(f.path))
      require(added.nonEmpty, s"snapshot $snapshotId added no files")
      val cur = m.currentSnapshot.map(_.manifest).getOrElse(Nil)
      require(!added.exists(f => cur.exists(_.path == f.path)),
        s"snapshot $snapshotId is already applied (its files are in the current manifest)")
      appendSnapshot(m, "append", cur ++ added, carryDeletes(m))
    }

  // ----------------------------------------------------------------- DDL

  /** B3 `ALTER TABLE ... ADD COLUMN` (README.md:269) — metadata only; old
    * files read the new column as NULL, or as `default` when given
    * (Iceberg v3 default values: the initial-default is FROZEN here —
    * pre-existing rows read it forever; new appends that omit the column
    * materialize it). `default` is a string literal castable to
    * `dataType` (validated eagerly so a bad literal fails the DDL, not
    * some later read). */
  def addColumn(name: String, dataType: DataType,
      default: Option[String] = None): Unit = {
    require(!name.startsWith("_graft_"),
      s"column name $name uses the reserved _graft_ prefix")
    default.foreach { d =>
      val cast = org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(d), StringType),
        dataType, Some("UTC"), org.apache.spark.sql.catalyst.expressions.EvalMode.TRY)
      require(cast.eval(null) != null,
        s"default '$d' does not cast to $dataType")
    }
    TableMeta.commitRetry(dir) { m =>
      require(!m.currentSchema.exists(_.name == name), s"column $name exists")
      val nid = m.lastColumnId + 1
      val nextSchema = m.currentSchema :+
        ColumnDef(nid, name, dataType.json, default)
      val nextSchemaId = m.currentSchemaId + 1
      m.copy(
        schemas = m.schemas + (nextSchemaId.toString -> nextSchema),
        currentSchemaId = nextSchemaId, lastColumnId = nid)
    }
  }

  /** `ALTER TABLE ... ALTER COLUMN <c> TYPE <t>` — Iceberg's safe type
    * promotion, metadata-only: the read path already casts each file's
    * columns to the CURRENT schema type (id-resolved), so old files
    * serve the widened type without rewrite. Only lossless widenings are
    * allowed — a narrowing would silently corrupt old data on read. */
  def widenColumn(name: String, to: DataType): Unit = {
    // idempotent no-op (migration replays): nothing to promote, no churn
    val (_, m0) = TableMeta.load(dir)
    if (m0.currentSchema.find(_.name == name).exists(_.sparkType == to)) return
    TableMeta.commitRetry(dir) { m =>
      val cur = m.currentSchema.find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(s"no column $name"))
      val from = cur.sparkType
      if (from == to) m // a racing identical widen landed first
      else {
        // a partition SOURCE cannot change type: bucket values come from
        // Spark's TYPE-DEPENDENT Murmur3 (hash(5:Int) != hash(5L)), so a
        // widened source would make pruning silently drop matching files
        // and split keys across bucket dirs — drop the partition field
        // first (the dropColumn rule, for the same reason)
        require(!m.partitionFields.exists(_.sourceId == cur.id),
          s"column $name is a partition source; DROP PARTITION FIELD before widening")
        val ok = (from, to) match {
          case (ByteType, ShortType | IntegerType | LongType) => true
          case (ShortType, IntegerType | LongType)            => true
          case (IntegerType, LongType)                        => true
          case (FloatType, DoubleType)                        => true
          case (a: DecimalType, b: DecimalType) =>
            b.precision - b.scale >= a.precision - a.scale && b.scale >= a.scale
          case _ => false
        }
        require(ok, s"cannot widen $name: $from -> $to is not a lossless promotion")
        val nextSchema = m.currentSchema.map(c =>
          if (c.name == name) c.copy(dataType = to.json) else c)
        val nextSchemaId = m.currentSchemaId + 1
        m.copy(
          schemas = m.schemas + (nextSchemaId.toString -> nextSchema),
          currentSchemaId = nextSchemaId)
      }
    }
  }

  /** B5 `ALTER TABLE ... RENAME COLUMN` (README.md:282) — metadata only,
    * no file rewrite (README.md:292); reads map by column id. */
  def renameColumn(from: String, to: String): Unit =
    TableMeta.commitRetry(dir) { m =>
      require(m.currentSchema.exists(_.name == from), s"no column $from")
      require(!m.currentSchema.exists(_.name == to), s"column $to exists")
      // same reserved-prefix rule as createTable/addColumn: renaming a
      // user column onto _graft_* collides with the physically
      // materialized lineage columns and the scan helper columns
      require(!to.startsWith("_graft_"),
        s"column name $to uses the reserved _graft_ prefix")
      val nextSchema = m.currentSchema.map(c => if (c.name == from) c.copy(name = to) else c)
      val nextSchemaId = m.currentSchemaId + 1
      // the write.sort-order PROPERTY mirrors sortOrderIds by name — a
      // rename keeps the ids correct but would leave the property naming
      // a column that no longer exists; re-render it from the new schema
      val nextProps =
        if (m.sortOrder.isEmpty || !m.allProperties.contains("write.sort-order"))
          m.tableProperties
        else Some(m.allProperties + ("write.sort-order" ->
          m.sortOrder.flatMap(id => nextSchema.find(_.id == id).map(_.name)).mkString(",")))
      m.copy(
        schemas = m.schemas + (nextSchemaId.toString -> nextSchema),
        currentSchemaId = nextSchemaId,
        tableProperties = nextProps)
    }

  /** `ALTER TABLE ... DROP COLUMN` — metadata only, like add/rename: the
    * column id simply leaves the current schema, so the read projection
    * (id-resolved) stops selecting it; data files keep the bytes until a
    * compaction rewrites them. */
  def dropColumn(name: String): Unit =
    TableMeta.commitRetry(dir) { m =>
      require(m.currentSchema.exists(_.name == name), s"no column $name")
      require(!m.partitionFields.exists(pf =>
        m.currentSchema.find(_.id == pf.sourceId).exists(_.name == name)),
        s"column $name is a partition source")
      // a pending equality delete keys on this column: dropping it would
      // make the delete unevaluable on every read (including the
      // compaction that clears it) — compact first, then drop
      val colId = m.currentSchema.find(_.name == name).get.id
      require(!m.currentSnapshot.exists(_.allEqDeleteFiles.exists(ed =>
        ed.columnIds.map(_.contains(colId)).getOrElse(ed.columns.contains(name)))),
        s"column $name keys a pending equality delete; run rewriteDataFiles first")
      val nextSchema = m.currentSchema.filterNot(_.name == name)
      val nextSchemaId = m.currentSchemaId + 1
      m.copy(
        schemas = m.schemas + (nextSchemaId.toString -> nextSchema),
        currentSchemaId = nextSchemaId)
    }

  /** B6 `ALTER TABLE ... ADD PARTITION FIELD <transform>(col)`
    * (README.md:304; the reference uses days, Iceberg's family adds
    * months/years/hours/bucket[N]/truncate[W]) — metadata only; FUTURE
    * writes cluster and record the transform value, existing files stay
    * unpruned (kept: no recorded value means no pruning proof). */
  def addPartitionField(sourceCol: String, transform: String = "days"): Unit =
    TableMeta.commitRetry(dir) { m =>
      val src = m.currentSchema.find(_.name == sourceCol)
        .getOrElse(throw new IllegalArgumentException(s"no column $sourceCol"))
      Transforms.validate(transform, src.sparkType)
      require(!m.partitionFields.exists(_.sourceId == src.id), "already partitioned")
      m.copy(
        partitionFields = m.partitionFields :+
          PartitionField(src.id, transform, Transforms.fieldName(transform, sourceCol)))
    }

  /** Declared write sort order — Iceberg's `ALTER TABLE ... WRITE ORDERED
    * BY (cols)`: every subsequent append range-clusters and sorts rows by
    * these columns before writing, so per-file min/max footer stats are
    * disjoint from the FIRST append on — stats pruning (planFilters)
    * works without waiting for a sorted compaction. The cost
    * is one range shuffle per append, the same trade Iceberg documents.
    * Stored as column ids: renames don't break the order. Empty clears. */
  def setSortOrder(cols: Seq[String]): Unit =
    TableMeta.commitRetry(dir) { m =>
      val ids = cols.map(c => m.currentSchema.find(_.name == c)
        .getOrElse(throw new IllegalArgumentException(s"no column $c")).id)
      // keep SHOW TBLPROPERTIES in sync with the declared order
      val props =
        if (ids.isEmpty) m.allProperties - "write.sort-order"
        else m.allProperties + ("write.sort-order" -> cols.mkString(","))
      m.copy(
        sortOrderIds = if (ids.isEmpty) None else Some(ids),
        tableProperties = if (props.isEmpty) None else Some(props))
    }

  /** `ALTER TABLE ... SET TBLPROPERTIES` — metadata-only merge. The
    * reference's CREATE TABLE carries TBLPROPERTIES (README.md:176-177);
    * well-known keys steer behavior: write.target-file-size-bytes is the
    * default binpack target, and write.sort-order (comma-separated
    * columns) routes to the declared write order — the SQL-only path to
    * WRITE ORDERED BY, exactly how Iceberg exposes it. */
  def setProperties(props: Map[String, String]): Unit =
    TableMeta.commitRetry(dir) { m =>
      val nextSort = props.get("write.sort-order") match {
        case None => m.sortOrderIds
        case Some(v) =>
          val ids = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map(c =>
            m.currentSchema.find(_.name == c).getOrElse(throw new IllegalArgumentException(
              s"write.sort-order names unknown column $c")).id)
          if (ids.isEmpty) None else Some(ids)
      }
      m.copy(
        tableProperties = Some(m.allProperties ++ props),
        sortOrderIds = nextSort)
    }

  /** `ALTER TABLE ... UNSET TBLPROPERTIES`; unsetting write.sort-order
    * also clears the declared write order. */
  def unsetProperties(keys: Seq[String]): Unit =
    TableMeta.commitRetry(dir) { m =>
      val rest = m.allProperties -- keys
      m.copy(
        tableProperties = if (rest.isEmpty) None else Some(rest),
        sortOrderIds =
          if (keys.contains("write.sort-order")) None else m.sortOrderIds)
    }

  /** Partition-spec evolution, the other half: `DROP PARTITION FIELD`.
    * Metadata only — existing files keep their recorded values (harmless:
    * pruning just stops consulting them), future writes stop clustering
    * by the dropped transform. Iceberg semantics: spec changes never
    * rewrite data. */
  def dropPartitionField(sourceCol: String): Unit =
    TableMeta.commitRetry(dir) { m =>
      val src = m.currentSchema.find(_.name == sourceCol)
        .getOrElse(throw new IllegalArgumentException(s"no column $sourceCol"))
      require(m.partitionFields.exists(_.sourceId == src.id),
        s"$sourceCol is not a partition source")
      m.copy(partitionFields = m.partitionFields.filterNot(_.sourceId == src.id))
    }

  // ------------------------------------------------------------ internals

  /** Write `df` as new data files under a write-unique `data/w-<uuid>/`
    * dir (two concurrent writers can never collide on paths), clustered
    * by the partition transform when one is declared (`partitionBy` — a
    * single job; partition values come back from the directory layout).
    * Returns the new DataFile entries. */
  private def writeFiles(
      spark: SparkSession, m: TableMeta, df: DataFrame,
      preClustered: Boolean = false,
      lineageMaterialized: Boolean = false): Seq[DataFile] = {
    val outDir = dir.resolve("data")
      .resolve(s"w-${java.util.UUID.randomUUID().toString.take(12)}")
    val idToName = m.currentSchema.map(c => c.id -> c.name).toMap
    val parts = m.partitionFields.flatMap(pf => idToName.get(pf.sourceId).map(pf -> _))
    val out = outDir.toString
    // INT96 timestamps carry no usable footer statistics; micros do.
    // Scoped save/restore: leaking this into the shared session would
    // flip OTHER parquet writes to timestamptz semantics downstream.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    // declared write sort order (setSortOrder): resolve ids → names
    val sortCols = m.sortOrder.flatMap(id => m.currentSchema.find(_.id == id))
      .map(c => col(c.name))
    try {
      if (parts.isEmpty) {
        if (preClustered || sortCols.isEmpty) df.write.parquet(out)
        else df.repartitionByRange(sortCols: _*)
          .sortWithinPartitions(sortCols: _*).write.parquet(out)
      } else {
        val typeOf = m.currentSchema.map(c => c.name -> c.sparkType).toMap
        val withCols = parts.foldLeft(df) { case (acc, (pf, srcName)) =>
          acc.withColumn(pf.name,
            Transforms.column(pf.transform, col(srcName), typeOf(srcName)))
        }
        // Cluster rows by the partition value BEFORE partitionBy: without
        // this, every shuffle partition writes a file into every day dir
        // (shuffle.partitions × n_days tiny files — the classic
        // small-files anti-pattern; at 100 TB it also drowns the manifest
        // and every footer-stats pass). One shuffle, ~one file per day.
        // Skipped when the caller already clustered (sorted compaction):
        // re-shuffling would undo its layout. A declared sort order leads
        // with the partition value (files stay partition-local), then the
        // sort columns — range clustering + within-partition sort.
        val partCols = parts.map(p => col(p._1.name))
        val clustered =
          if (preClustered) withCols
          else if (sortCols.isEmpty) withCols.repartition(partCols: _*)
          else withCols.repartitionByRange((partCols ++ sortCols): _*)
            .sortWithinPartitions((partCols ++ sortCols): _*)
        clustered.write.partitionBy(parts.map(_._1.name): _*).parquet(out)
      }
    } finally prevTs match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None    => spark.conf.unset(tsKey)
    }
    // walk the written directory; parse partition values from dir names
    val files = GraftIO.listFilesRecursive(outDir)
      .filter(st => st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.toString)
    if (files.isEmpty) return Nil // e.g. a delete that emptied every affected file
    // Row counts and per-column min/max come from the PARQUET FOOTERS —
    // O(files) metadata reads, no data re-scan (re-aggregating what was
    // just written would double write IO; footers already hold the
    // answer, which is exactly how Iceberg writers collect stats).
    val entries = files.flatMap { st =>
      val p = st.getPath
      val rel = GraftIO.relativize(dir, p)
      val pvals = rel.split('/').filter(_.contains('='))
        .map { seg =>
          val Array(k, v) = seg.split("=", 2)
          k -> Transforms.unescapePathValue(v) // bounds compare unescaped
        }.toMap
      val footer = FooterStats.readWithNulls(st, m.currentSchema)
      // zero-row files (empty write partitions) carry no data: keep the
      // manifest tight, they'd only bloat planning
      if (footer.rows == 0) None
      else Some(DataFile(rel, footer.rows, m.currentSchemaId, pvals,
        if (footer.stats.isEmpty) None else Some(footer.stats),
        sizeBytes = Some(st.getLen),
        nulls = if (footer.nulls.isEmpty) None else Some(footer.nulls),
        materializedLineage = if (lineageMaterialized) Some(true) else None))
    }
    attachBlooms(spark, m, entries)
  }

  /** Build per-file Bloom sidecars for the columns declared in the
    * `write.bloom-filter-columns` table property (comma-separated;
    * ineligible/unknown names are skipped — indexing is an optimization,
    * never a write failure). One distributed pass over the just-written
    * files: each executor partition folds its rows into local per-file
    * blooms, merged tree-wise — the column is re-read (columnar, index
    * columns only), which is the explicit price of indexing, paid at
    * write time once so every point lookup afterwards skips files.
    * Sized from the file's exact row count at fpp=3%. */
  private def attachBlooms(
      spark: SparkSession, m: TableMeta, entries: Seq[DataFile]): Seq[DataFile] = {
    import org.apache.spark.util.sketch.BloomFilter
    val cols = m.allProperties.get("write.bloom-filter-columns").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      .flatMap(n => m.currentSchema.find(_.name == n))
      .filter(c => BloomSidecar.eligible(c.sparkType))
    if (cols.isEmpty || entries.isEmpty) return entries
    val names = cols.map(_.name)
    // keyed by ABSOLUTE PATH (input_file_name URI → decoded filesystem
    // path): basenames are NOT unique in a partitioned write — one task
    // can emit the same part-NNNNN name into several partition dirs,
    // and folding those files into one bloom would silently defeat
    // pruning exactly where it matters
    def pathOf(uri: String) = new java.net.URI(uri).getPath
    val rowsOf = entries
      .map(e => dir.resolve(e.path).toUri.getPath -> e.rows).toMap
    val rowsB = spark.sparkContext.broadcast(rowsOf)
    val nB = spark.sparkContext.broadcast(names)
    val merged = spark.read
      .parquet(entries.map(e => dir.resolve(e.path).toString): _*)
      .select(names.map(col) :+ input_file_name().as("__graft_file"): _*)
      .rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.Map.empty[(String, String), BloomFilter]
        val ns = nB.value
        it.foreach { row =>
          val f = pathOf(row.getString(ns.length))
          val exp = math.max(rowsB.value.getOrElse(f, 100000L), 1L)
          var i = 0
          while (i < ns.length) {
            if (!row.isNullAt(i)) {
              val bf = acc.getOrElseUpdate((f, ns(i)), BloomFilter.create(exp, 0.03))
              BloomSidecar.put(bf, row.get(i))
            }
            i += 1
          }
        }
        Iterator.single(acc.toMap)
      }
      .reduce { (a, b) =>
        b.foldLeft(a) { case (acc, (k, bf)) =>
          acc.get(k) match {
            case Some(mine) => mine.mergeInPlace(bf); acc
            case None => acc + (k -> bf)
          }
        }
      }
    entries.map { e =>
      val abs = dir.resolve(e.path).toUri.getPath
      val perFile = names.flatMap(n =>
        merged.get((abs, n)).map(n -> _)).toMap
      if (perFile.isEmpty) e
      else {
        val ref = e.path + ".bloom"
        BloomSidecar.write(dir.resolve(ref), perFile)
        e.copy(bloom = Some(ref))
      }
    }
  }

  /** The current snapshot's MoR delete files, for ops that keep prior
    * data files in place (append, CoW delete/update/merge — stale entries
    * pointing at rewritten files are inert in the anti-join). */
  private def carryDeletes(m: TableMeta): Seq[DataFile] =
    m.currentSnapshot.map(_.allDeleteFiles).getOrElse(Nil)

  /** Pure metadata transition: append a new snapshot (id = max+1 of the
    * GIVEN metadata, so a commitRetry reapply numbers correctly).
    * Files NEW in this commit (not in the parent manifest) are stamped
    * with the commit's sequence (= snapshot id); equality deletes carry
    * forward automatically — the seq guard scopes them — except through
    * replace/overwrite, which rewrite or discard the content they
    * applied to (compaction reads through readLive, so the rewritten
    * files already have them folded in). */
  private def appendSnapshot(
      m: TableMeta, op: String, manifest: Seq[DataFile],
      deletes: Seq[DataFile], streamBatch: Option[String] = None,
      newEqDeletes: Seq[EqDeleteFile] = Nil,
      // None = carry the parent's deletion vectors (replace/overwrite
      // clear them — the rewrite folded them in); Some = the caller
      // computed the COMPLETE new vector set (deleteMoRDv's supersede)
      dvs: Option[Seq[DeleteVector]] = None): TableMeta = {
    val snapId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val parentPaths = m.currentSnapshot.map(_.manifest.map(_.path).toSet).getOrElse(Set.empty)
    // v3 row lineage: NEW files (same test as the seq stamp) get their
    // firstRowId from the table's monotone counter — row N of the file
    // is durable id firstRowId+N — UNLESS they carry materialized
    // per-row ids (lineage-preserving rewrites), which consume no ids
    var rid = m.nextRowId.getOrElse(0L)
    val stamped = manifest.map { f =>
      if (f.seq.isEmpty && !parentPaths.contains(f.path)) {
        val withSeq = f.copy(seq = Some(snapId))
        if (f.materializedLineage.contains(true)) withSeq
        else { val r = rid; rid += f.rows; withSeq.copy(firstRowId = Some(r)) }
      } else f
    }
    val carriedEq =
      if (op == "replace" || op == "overwrite") Nil
      else m.currentSnapshot.map(_.allEqDeleteFiles).getOrElse(Nil)
    val eq = carriedEq ++ newEqDeletes.map(_.copy(seq = snapId))
    val dv = dvs.getOrElse(
      if (op == "replace" || op == "overwrite") Nil
      else m.currentSnapshot.map(_.allDeleteVectors).getOrElse(Nil))
    val snap = Snapshot(
      snapshotId = snapId,
      parentId = m.currentSnapshotId,
      timestampMs = System.currentTimeMillis(),
      operation = op,
      manifest = stamped,
      deleteFiles = if (deletes.isEmpty) None else Some(deletes),
      streamBatch = streamBatch,
      eqDeleteFiles = if (eq.isEmpty) None else Some(eq),
      deleteVectors = if (dv.isEmpty) None else Some(dv))
    m.copy(snapshots = m.snapshots :+ snap, currentSnapshotId = Some(snapId),
      nextRowId = if (rid == 0L) m.nextRowId else Some(rid))
  }
}
