package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

import graft.iceberg.{IcebergTable, IcebergWriter, Maintenance}

/** SQL `CALL` procedures for table maintenance — Spark 4's DSv2
  * [[org.apache.spark.sql.connector.catalog.ProcedureCatalog]] surface,
  * the same shape Iceberg's Spark runtime exposes (`CALL cat.system
  * .rewrite_data_files(...)`). Both graft catalogs (path + REST) serve the
  * SAME registry under the `system` namespace, so every maintenance
  * operation is reachable from pure SQL:
  *
  * {{{
  *   CALL cat.system.compact(table => 'db.t')
  *   CALL cat.system.expire_snapshots(table => 'db.t', keep_last => 3)
  *   CALL cat.system.compute_table_stats(table => 'db.t', incremental => true)
  *   CALL cat.system.rollback_to_snapshot(table => 'db.t', snapshot_id => 123)
  * }}}
  *
  * Each procedure resolves the `table` argument THROUGH ITS OWN CATALOG
  * (the path catalog's warehouse layout, the REST catalog's metadata
  * location) and commits through that table's own ops, so a REST table's
  * maintenance commit gets the same catalog atomicity as its DML.
  * Results come back as rows (a driver-side [[LocalScan]] — maintenance
  * results are metadata-scale).
  *
  * The reference has no write or maintenance surface at all (README.md:94)
  * — this is an extension, exercised by ProceduresSpec. */
object GraftProcedures {

  final case class ParamDef(name: String, dt: DataType,
      defaultSql: Option[String] = None, comment: String = "")

  /** What a procedure body can reach from its serving catalog: the table
    * RESOLVER (name → existing table; `apply` delegates so bodies read as
    * `resolve(name)`), and — for filesystem-warehouse catalogs — the
    * LAYOUT mapping a table name to its storage path, which the
    * table-CREATING procedures (snapshot / migrate / register_table) need.
    * Catalogs without a filesystem layout (REST) leave `tablePath` empty
    * and those procedures refuse loudly instead of inventing a location. */
  final case class ProcContext(resolveTable: String => IcebergTable,
      tablePath: Option[String => String] = None,
      /** Catalog-native table registration (name, metadata-location) — the
        * REST protocol's register endpoint: the catalog records the
        * EXISTING metadata file as the new entry, zero bytes move. Set by
        * catalogs whose server owns metadata locations; path catalogs use
        * `tablePath` + a local metadata copy instead. */
      register: Option[(String, String) => Unit] = None) {
    def apply(name: String): IcebergTable = resolveTable(name)
    def pathOf(name: String): String = tablePath.getOrElse(
      throw new UnsupportedOperationException(
        "this catalog has no filesystem warehouse layout; snapshot / " +
          "migrate / register_table need a path catalog"))(name)
  }

  /** One procedure: SQL parameters (first is always `table`) + the body.
    * `run` receives the catalog's [[ProcContext]] so it can re-resolve the
    * table AFTER the operation for result reporting. */
  final case class ProcDef(name: String, description: String,
      params: Seq[ParamDef],
      run: (SparkSession, ProcContext, IndexedSeq[Any]) => DataFrame)

  private val tableParam =
    ParamDef("table", StringType, comment = "table identifier, e.g. 'db.t'")

  private def oneRow(spark: SparkSession, schema: StructType, values: Any*): DataFrame =
    spark.createDataFrame(util.Arrays.asList(Row.fromSeq(values)), schema)

  private def longField(n: String) = StructField(n, LongType, nullable = false)
  private def intField(n: String) = StructField(n, IntegerType, nullable = false)

  /** Evaluate a declared parameter default (literal SQL: `NULL`, `1`,
    * `'parquet'`, …) to the JVM value handlers consume. The parsed literal
    * is CAST to the DECLARED param type before eval — an integer-shaped
    * default for a LongType param ("259200000") otherwise evals to
    * java.lang.Integer and the handler's `asInstanceOf[java.lang.Long]`
    * throws — then Catalyst-internal values map to their JVM externals
    * (UTF8String→String), same as `read()` does for supplied arguments. */
  private[sources] def evalDefault(procName: String, p: ParamDef): Any =
    p.defaultSql match {
      case None => throw new IllegalArgumentException(
        s"procedure $procName: required parameter '${p.name}' was not supplied")
      case Some(sql) if sql.equalsIgnoreCase("NULL") => null
      case Some(sql) =>
        org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseExpression(sql), p.dt).eval(InternalRow.empty) match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => other
        }
    }

  private def intArg(a: Any): Option[Int] = Option(a).map {
    case i: Integer => i.intValue
    case l: java.lang.Long => l.intValue
  }

  /** Parse the `where` file-selector grammar — simple comparisons
    * (`col op literal` with = != <> < <= > >=, `col IS [NOT] NULL`,
    * `col IN (...)`) combined with AND/OR and parentheses; literals are
    * numbers, 'single-quoted' strings, or true/false. Parsed by Spark's
    * own SQL expression parser (so quoting/precedence are exactly SQL) and
    * translated to the [[graft.iceberg.Pruning.IcePredicate]] ADT, which
    * already models disjunction — the predicate selects FILES via the
    * pruning tiers, so the same grammar every pruning consumer speaks.
    * Anything beyond that grammar (arithmetic, functions, column-to-column
    * comparison) refuses loudly rather than mis-selecting files. */
  private[sources] def parseWhere(s: String): graft.iceberg.Pruning.IcePredicate = {
    import graft.iceberg.{Pruning => P}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    require(s != null && s.trim.nonEmpty, "empty where predicate")
    val parsed =
      try org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(s)
      catch {
        case e: org.apache.spark.sql.catalyst.parser.ParseException =>
          throw new IllegalArgumentException(
            s"cannot parse where predicate '$s': ${e.getMessage}")
      }
    def fail(e: Expression): Nothing = throw new IllegalArgumentException(
      s"cannot translate '${e.sql}' to a file-selector predicate " +
        "(col op literal | col IS [NOT] NULL | col IN (...), " +
        "combined with AND/OR/parentheses)")
    def colOf(e: Expression): String = e match {
      case a: UnresolvedAttribute => a.nameParts.mkString(".")
      case other => fail(other)
    }
    // literal values normalize to the JVM types the pruning evaluator
    // compares against file bounds: integers widen to Long, decimals/
    // floats to Double, UTF8String to String
    def litOf(e: Expression): Any = e match {
      case Literal(null, _) => throw new IllegalArgumentException(
        "NULL is not a comparison literal — use IS NULL / IS NOT NULL")
      case Literal(v, _) => v match {
        case b: java.lang.Boolean => b.booleanValue
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case d: java.lang.Double => d.doubleValue
        case f: java.lang.Float => f.doubleValue
        case n: java.lang.Number => n.longValue
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case _ => fail(e)
      }
      case other => fail(other)
    }
    def translate(e: Expression): P.IcePredicate = e match {
      case And(l, r) => P.And(translate(l), translate(r))
      case Or(l, r) => P.Or(translate(l), translate(r))
      case EqualTo(a: UnresolvedAttribute, l: Literal) => P.Eq(colOf(a), litOf(l))
      case EqualTo(l: Literal, a: UnresolvedAttribute) => P.Eq(colOf(a), litOf(l))
      case Not(EqualTo(a: UnresolvedAttribute, l: Literal)) => P.NotEq(colOf(a), litOf(l))
      case Not(EqualTo(l: Literal, a: UnresolvedAttribute)) => P.NotEq(colOf(a), litOf(l))
      case LessThan(a: UnresolvedAttribute, l: Literal) => P.Lt(colOf(a), litOf(l))
      case LessThan(l: Literal, a: UnresolvedAttribute) => P.Gt(colOf(a), litOf(l))
      case LessThanOrEqual(a: UnresolvedAttribute, l: Literal) => P.LtEq(colOf(a), litOf(l))
      case LessThanOrEqual(l: Literal, a: UnresolvedAttribute) => P.GtEq(colOf(a), litOf(l))
      case GreaterThan(a: UnresolvedAttribute, l: Literal) => P.Gt(colOf(a), litOf(l))
      case GreaterThan(l: Literal, a: UnresolvedAttribute) => P.Lt(colOf(a), litOf(l))
      case GreaterThanOrEqual(a: UnresolvedAttribute, l: Literal) => P.GtEq(colOf(a), litOf(l))
      case GreaterThanOrEqual(l: Literal, a: UnresolvedAttribute) => P.LtEq(colOf(a), litOf(l))
      case IsNull(a: UnresolvedAttribute) => P.IsNull(colOf(a))
      case IsNotNull(a: UnresolvedAttribute) => P.NotNull(colOf(a))
      case In(a: UnresolvedAttribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        P.In(colOf(a), vs.map(litOf))
      // general NOT: translate the inner predicate, then push the negation
      // through the ADT (De Morgan; IN becomes an AND of !=) — file-tier
      // soundness is unchanged because every negated leaf is itself a leaf
      case Not(inner) => P.negate(translate(inner))
      case other => fail(other)
    }
    translate(parsed)
  }

  val all: Seq[ProcDef] = Seq(
    ProcDef("compact",
      "Rewrite small data files into targets, folding row-level deletes; " +
        "with `where`, rewrite ONLY the files the predicate selects " +
        "(partition-scoped compaction)",
      Seq(tableParam, ParamDef("target_files", IntegerType, Some("NULL")),
        ParamDef("where", StringType, Some("NULL"),
          "file selector: `col op literal` / `col IS [NOT] NULL` / " +
            "`col IN (...)` with AND/OR/parens — rewrites only matching files")),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        val before = t.currentSnapshot.snapshotId
        val rewritten = Option(a(2)).map(_.asInstanceOf[String]) match {
          case Some(where) =>
            Maintenance.compactWhere(t.ops, parseWhere(where), intArg(a(1)))
          case None =>
            // compact reports what it ACTUALLY rewrote — 0 when the
            // no-op guard fires, not a pre-claimed liveFiles().size
            Maintenance.compact(t.ops, intArg(a(1)))
        }
        val after = resolve(a(0).asInstanceOf[String])
        oneRow(s, StructType(Seq(longField("previous_snapshot_id"),
          longField("current_snapshot_id"), intField("live_files"),
          intField("rewritten_files"))),
          before, after.currentSnapshot.snapshotId, after.liveFiles().size,
          rewritten)
      }),
    ProcDef("zorder",
      "Rewrite the table clustered on a Morton curve over 2-4 columns",
      Seq(tableParam,
        ParamDef("columns", StringType, comment = "comma-separated, 2-4 columns"),
        ParamDef("target_files", IntegerType, Some("NULL"))),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        val cols = a(1).asInstanceOf[String].split(',').map(_.trim).toSeq
        Maintenance.zorder(t.ops, cols, intArg(a(2)))
        val after = resolve(a(0).asInstanceOf[String])
        oneRow(s, StructType(Seq(longField("current_snapshot_id"),
          intField("live_files"))),
          after.currentSnapshot.snapshotId, after.liveFiles().size)
      }),
    ProcDef("expire_snapshots",
      "Drop history beyond keep_last snapshots and collect their files; " +
        "refs past their max-ref-age-ms retire in the same commit",
      Seq(tableParam, ParamDef("keep_last", IntegerType, Some("1")),
        ParamDef("older_than_ms", LongType, Some("NULL"),
          comment = "absolute epoch-ms cutoff: snapshots at/after it are " +
            "retained beyond keep_last (time-based retention)")),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        val before = t.metadata.snapshots.size
        Maintenance.expireSnapshots(t.ops, intArg(a(1)).getOrElse(1),
          olderThan = Option(a(2)).map(_.asInstanceOf[java.lang.Long].longValue))
        val after = resolve(a(0).asInstanceOf[String])
        oneRow(s, StructType(Seq(intField("expired_snapshots"),
          intField("remaining_snapshots"))),
          before - after.metadata.snapshots.size, after.metadata.snapshots.size)
      }),
    ProcDef("remove_orphan_files",
      "Delete data/metadata bytes no snapshot references (failed commits); " +
        "dry_run reports the count without deleting",
      Seq(tableParam, ParamDef("older_than_ms", LongType,
        Some((3L * 24 * 3600 * 1000).toString),
        comment = "only files older than this are candidates"),
        ParamDef("dry_run", BooleanType, Some("false"),
          comment = "audit pass: report would-be-deleted count, delete nothing")),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        val n = Maintenance.removeOrphans(t.ops,
          Option(a(1)).map(_.asInstanceOf[java.lang.Long].longValue)
            .getOrElse(3L * 24 * 3600 * 1000),
          dryRun = Option(a(2)).exists(_.asInstanceOf[Boolean]))
        oneRow(s, StructType(Seq(intField("deleted_files"))), n)
      }),
    ProcDef("rewrite_manifests",
      "Consolidate manifest files (metadata-only, provenance-preserving)",
      Seq(tableParam, ParamDef("target_manifests", IntegerType, Some("1"))),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        IcebergWriter.rewriteManifests(t.ops, intArg(a(1)).getOrElse(1))
        val after = resolve(a(0).asInstanceOf[String])
        oneRow(s, StructType(Seq(intField("manifests"))),
          after.manifestList.size)
      }),
    ProcDef("rewrite_position_deletes",
      "Consolidate position-delete carriers (parquet + deletion vectors)",
      Seq(tableParam, ParamDef("target_files", IntegerType, Some("1"))),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        IcebergWriter.rewritePositionDeletes(t.ops, intArg(a(1)).getOrElse(1))
        val after = resolve(a(0).asInstanceOf[String])
        oneRow(s, StructType(Seq(intField("position_delete_files"))),
          after.positionDeleteFiles.size)
      }),
    ProcDef("rollback_to_snapshot",
      "Move the table back to an ancestor snapshot (metadata-only undo)",
      Seq(tableParam, ParamDef("snapshot_id", LongType)),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        val before = t.currentSnapshot.snapshotId
        IcebergWriter.rollbackTo(t.ops, a(1).asInstanceOf[java.lang.Long].longValue)
        val after = resolve(a(0).asInstanceOf[String])
        oneRow(s, StructType(Seq(longField("previous_snapshot_id"),
          longField("current_snapshot_id"))),
          before, after.currentSnapshot.snapshotId)
      }),
    ProcDef("rollback_to_timestamp",
      "Move the table back to the latest ancestor snapshot committed " +
        "at/before the given time (metadata-only undo by wall clock)",
      Seq(tableParam, ParamDef("timestamp_ms", LongType,
        comment = "epoch-ms; resolves to the latest snapshot at/before it")),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        val ms = a(1).asInstanceOf[java.lang.Long].longValue
        // candidates are ANCESTORS of the current main snapshot only —
        // deliberately NOT the snapshot-log rule the read paths use
        // (IcebergTable.snapshotIdAsOf): rollbackTo requires its target to
        // be an ancestor, so resolving onto a staged snapshot OR a
        // rolled-back-era entry would refuse where picking the latest
        // restorable main-line snapshot at/before the timestamp serves the
        // caller (Iceberg's own rollback refuses non-ancestors too)
        val ancestors = t.mainAncestorIds
        val fits = t.metadata.snapshots.zipWithIndex
          .filter { case (s2, _) =>
            s2.timestampMs <= ms && ancestors.contains(s2.snapshotId) }
        require(fits.nonEmpty,
          s"timestamp_ms=$ms predates every main-ancestor snapshot of ${a(0)}")
        val target = fits.maxBy { case (s2, i) => (s2.timestampMs, i) }._1
        val before = t.currentSnapshot.snapshotId
        IcebergWriter.rollbackTo(t.ops, target.snapshotId)
        val after = resolve(a(0).asInstanceOf[String])
        oneRow(s, StructType(Seq(longField("previous_snapshot_id"),
          longField("current_snapshot_id"))),
          before, after.currentSnapshot.snapshotId)
      }),
    ProcDef("fast_forward",
      "Publish a staged branch by fast-forwarding main to its head (WAP)",
      Seq(tableParam, ParamDef("branch", StringType)),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        IcebergWriter.fastForward(t.ops, a(1).asInstanceOf[String])
        val after = resolve(a(0).asInstanceOf[String])
        oneRow(s, StructType(Seq(longField("current_snapshot_id"))),
          after.currentSnapshot.snapshotId)
      }),
    ProcDef("create_changelog_view",
      "Register a session temp view over the table's CDC changelog " +
        "(insert/delete rows per commit) between two snapshots; with " +
        "identifier_columns, same-key delete+insert pairs within a commit " +
        "relabel to update_before/update_after",
      Seq(tableParam,
        ParamDef("changelog_view", StringType, Some("NULL"),
          "view name (default: <table>_changes)"),
        ParamDef("start_snapshot_id", LongType, Some("NULL"),
          "exclusive range start (default: the oldest snapshot)"),
        ParamDef("end_snapshot_id", LongType, Some("NULL"),
          "inclusive range end (default: the current snapshot)"),
        ParamDef("identifier_columns", StringType, Some("NULL"),
          "comma-separated key columns; when set, a key deleted AND " +
            "re-inserted in one commit becomes update_before/update_after"),
        ParamDef("net_changes", BooleanType, Some("false"),
          "collapse carry-overs: each distinct row content's NET effect " +
            "across the range (mutually exclusive with identifier_columns)"),
        ParamDef("start_timestamp_ms", LongType, Some("NULL"),
          "time form of start_snapshot_id: the LATEST snapshot committed " +
            "at/before this epoch-ms (changes AFTER this time)"),
        ParamDef("end_timestamp_ms", LongType, Some("NULL"),
          "time form of end_snapshot_id: the latest snapshot at/before " +
            "this epoch-ms")),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        val name = Option(a(1)).map(_.asInstanceOf[String]).getOrElse(
          a(0).asInstanceOf[String].split('.').last + "_changes")
        // snapshot-log resolution (IcebergTable.snapshotIdAsOf): staged
        // WAP/branch snapshots never enter the log, so the view cannot
        // include commits the audit gate never published. A changelog is a
        // RANGE over the CURRENT main line, though — a bound resolving
        // into a rolled-back era is not on that line, and the parent-chain
        // walk would throw a bare "not an ancestor"; refuse with the real
        // diagnosis instead of silently substituting older data
        def atOrBefore(ms: Long, what: String): Long = {
          val id = t.snapshotIdAsOf(ms, what)
          require(t.mainAncestorIds.contains(id),
            s"$what=$ms resolves to snapshot $id, which was rolled back " +
              "off the main line — a changelog range must lie on the " +
              "current history; pass explicit snapshot ids to range over " +
              "the rolled-back era")
          id
        }
        val startTs = Option(a(6)).map(_.asInstanceOf[java.lang.Long].longValue)
        val endTs = Option(a(7)).map(_.asInstanceOf[java.lang.Long].longValue)
        require(!(startTs.isDefined && a(2) != null) &&
          !(endTs.isDefined && a(3) != null),
          "give each range bound as a snapshot id OR a timestamp, not both")
        val from = Option(a(2)).map(_.asInstanceOf[java.lang.Long].longValue)
          .orElse(startTs.map(atOrBefore(_, "start_timestamp_ms")))
          .getOrElse(t.metadata.snapshots.head.snapshotId)
        val end = Option(a(3)).map(_.asInstanceOf[java.lang.Long].longValue)
          .orElse(endTs.map(atOrBefore(_, "end_timestamp_ms")))
          .getOrElse(t.currentSnapshot.snapshotId)
        val keys = Option(a(4)).map(_.asInstanceOf[String])
        val net = Option(a(5)).exists(_.asInstanceOf[Boolean])
        require(!(net && keys.isDefined),
          "net_changes and identifier_columns cannot combine (net effects " +
            "collapse the per-commit pairs update images are computed from)")
        val df =
          if (net) t.changelogNet(from, end)
          else keys match {
            case Some(k) => t.changelogWithUpdates(from, end,
              k.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
            case None => t.changelog(from, end)
          }
        df.createOrReplaceTempView(name)
        oneRow(s, StructType(Seq(
          StructField("changelog_view", StringType, nullable = false))), name)
      }),
    ProcDef("cherrypick_snapshot",
      "Splice one staged APPEND snapshot onto main — the publish path when " +
        "main moved past the staging fork and fast_forward refuses",
      Seq(tableParam, ParamDef("snapshot_id", LongType)),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        val srcId = a(1).asInstanceOf[java.lang.Long].longValue
        IcebergWriter.cherryPick(t.ops, srcId)
        val after = resolve(a(0).asInstanceOf[String])
        oneRow(s, StructType(Seq(longField("source_snapshot_id"),
          longField("current_snapshot_id"))),
          srcId, after.currentSnapshot.snapshotId)
      }),
    ProcDef("publish_changes",
      "Publish a staged write-audit-publish commit by its wap.id " +
        "(cherry-picks onto main; works after main advanced)",
      Seq(tableParam, ParamDef("wap_id", StringType)),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        IcebergWriter.publishChanges(t.ops, a(1).asInstanceOf[String])
        val after = resolve(a(0).asInstanceOf[String])
        oneRow(s, StructType(Seq(longField("current_snapshot_id"))),
          after.currentSnapshot.snapshotId)
      }),
    ProcDef("set_current_snapshot",
      "Move the head to ANY snapshot in metadata (no ancestry requirement " +
        "— the explicit splice rollback_to_snapshot refuses)",
      Seq(tableParam, ParamDef("snapshot_id", LongType)),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        val before = t.currentSnapshot.snapshotId
        IcebergWriter.setCurrentSnapshot(t.ops, a(1).asInstanceOf[java.lang.Long].longValue)
        val after = resolve(a(0).asInstanceOf[String])
        oneRow(s, StructType(Seq(longField("previous_snapshot_id"),
          longField("current_snapshot_id"))),
          before, after.currentSnapshot.snapshotId)
      }),
    ProcDef("ancestors_of",
      "Main-line ancestry of a snapshot (default: current), newest first",
      Seq(tableParam, ParamDef("snapshot_id", LongType, Some("NULL"))),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        val start = Option(a(1)).map(_.asInstanceOf[java.lang.Long].longValue)
          .getOrElse(t.currentSnapshot.snapshotId)
        require(t.metadata.snapshotsById.contains(start),
          s"unknown snapshot $start")
        val chain = Iterator.iterate(t.metadata.snapshotsById.get(start))(
            _.flatMap(_.parentSnapshotId).flatMap(t.metadata.snapshotsById.get))
          .takeWhile(_.isDefined).map(_.get).toSeq
        s.createDataFrame(
          util.Arrays.asList(chain.map(sn =>
            Row(sn.snapshotId, sn.timestampMs)): _*),
          StructType(Seq(longField("snapshot_id"), longField("timestamp_ms"))))
      }),
    ProcDef("create_tag",
      "Tag a snapshot (default: current) — an immutable named pointer",
      Seq(tableParam, ParamDef("tag", StringType),
        ParamDef("snapshot_id", LongType, Some("NULL"))),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        IcebergWriter.tag(t.ops, a(1).asInstanceOf[String],
          Option(a(2)).map(_.asInstanceOf[java.lang.Long].longValue), maxRefAgeMs = None)
        val after = resolve(a(0).asInstanceOf[String])
        oneRow(s, StructType(Seq(longField("snapshot_id"))),
          after.refs(a(1).asInstanceOf[String]).snapshotId)
      }),
    ProcDef("create_branch",
      "Create or move a named branch pointer (default target: current)",
      Seq(tableParam, ParamDef("branch", StringType),
        ParamDef("snapshot_id", LongType, Some("NULL"))),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        IcebergWriter.branch(t.ops, a(1).asInstanceOf[String],
          Option(a(2)).map(_.asInstanceOf[java.lang.Long].longValue), maxRefAgeMs = None)
        val after = resolve(a(0).asInstanceOf[String])
        oneRow(s, StructType(Seq(longField("snapshot_id"))),
          after.refs(a(1).asInstanceOf[String]).snapshotId)
      }),
    ProcDef("drop_ref",
      "Drop a named tag or branch",
      Seq(tableParam, ParamDef("ref", StringType)),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        IcebergWriter.dropRef(t.ops, a(1).asInstanceOf[String])
        val after = resolve(a(0).asInstanceOf[String])
        oneRow(s, StructType(Seq(intField("remaining_refs"))),
          after.refs.size)
      }),
    ProcDef("compute_table_stats",
      "Build + register per-column NDV theta sketches (puffin statistics)",
      Seq(tableParam, ParamDef("incremental", BooleanType, Some("false"),
        comment = "theta-union only the rows appended since the prior entry")),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        val incremental = Option(a(1))
          .exists(_.asInstanceOf[java.lang.Boolean].booleanValue)
        val ndvs =
          if (incremental) graft.iceberg.TableStatistics.computeIncremental(t.ops)
          else graft.iceberg.TableStatistics.compute(t.ops)
        val nameById = resolve(a(0).asInstanceOf[String])
          .iceSchema.fields.map(f => f.id -> f.name).toMap
        val schema = StructType(Seq(intField("field_id"),
          StructField("column_name", StringType, nullable = true),
          longField("ndv")))
        s.createDataFrame(
          util.Arrays.asList(ndvs.toSeq.sortBy(_._1).map { case (id, ndv) =>
            Row(id, nameById.getOrElse(id, null), ndv)
          }: _*), schema)
      }),
    ProcDef("set_sort_order",
      "Set (or clear) the table's default write sort order — metadata-only; " +
        "future writes sort, compact rewrites old files under the new order",
      Seq(tableParam, ParamDef("order", StringType, Some("NULL"),
        comment = "comma-separated 'col [asc|desc]' list; NULL or 'none' " +
          "resets to unsorted")),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        val parsed: Seq[(String, String)] =
          Option(a(1)).map(_.asInstanceOf[String].trim)
            .filterNot(v => v.isEmpty || v.equalsIgnoreCase("none"))
            .map(_.split(',').toSeq.map { part =>
              part.trim.split("\\s+") match {
                case Array(c) => (c, "asc")
                case Array(c, d) => (c, d.toLowerCase)
                case _ => throw new IllegalArgumentException(
                  s"cannot parse sort field '$part' (col [asc|desc])")
              }
            }).getOrElse(Nil)
        IcebergWriter.setSortOrder(t.ops, parsed)
        val after = resolve(a(0).asInstanceOf[String])
        oneRow(s, StructType(Seq(
          StructField("sort_order", StringType, nullable = false))),
          if (after.sortOrderColumns.isEmpty) "unsorted"
          else after.sortOrderColumns.map { case (c, d) => s"$c $d" }
            .mkString(", "))
      }),
    ProcDef("add_files",
      "Register EXISTING parquet/orc/avro files into the table WITHOUT " +
        "rewriting their data (metadata-only import; parquet/orc harvest " +
        "footer statistics)",
      Seq(tableParam,
        ParamDef("source_dir", StringType,
          comment = "directory holding the foreign files (recursive)"),
        ParamDef("format", StringType, Some("'parquet'"),
          comment = "parquet | orc | avro")),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        val fmt = Option(a(2)).map(_.asInstanceOf[String])
          .getOrElse("parquet").toLowerCase
        val suffix = s".$fmt"
        val dir = new Path(a(1).asInstanceOf[String])
        val fs = dir.getFileSystem(s.sessionState.newHadoopConf())
        val found = scala.collection.mutable.ArrayBuffer.empty[String]
        if (fs.exists(dir)) {
          val it = fs.listFiles(dir, true)
          while (it.hasNext) {
            val st = it.next()
            if (st.getPath.getName.endsWith(suffix)) found += st.getPath.toString
          }
        }
        require(found.nonEmpty,
          s"no *$suffix files under ${a(1)} — nothing to import")
        IcebergWriter.addFiles(t.ops, found.toSeq.sorted, fmt)
        val after = resolve(a(0).asInstanceOf[String])
        oneRow(s, StructType(Seq(intField("added_files_count"),
          longField("total_records"))),
          found.size, after.countFromStats().getOrElse(-1L))
      }),
    ProcDef("snapshot",
      "Create a NEW table as a metadata-only snapshot of an existing " +
        "parquet directory: the source files are referenced in place (no " +
        "copy, no rewrite) — Iceberg's `snapshot` migration procedure over " +
        "a raw parquet layout. The new table owns only metadata; compact " +
        "it (or use `migrate`) to make it self-contained",
      Seq(tableParam,
        ParamDef("source_dir", StringType,
          comment = "directory of files to snapshot (recursive)"),
        ParamDef("format", StringType, Some("'parquet'"),
          comment = "parquet | orc | avro")),
      (s, resolve, a) => {
        val name = a(0).asInstanceOf[String]
        val path = resolve.pathOf(name)
        require(graft.iceberg.IcebergTable.versionHint(path,
            s.sessionState.newHadoopConf()) == 0,
          s"snapshot target $name already holds a table")
        IcebergWriter.importDir(s, path, a(1).asInstanceOf[String],
          Option(a(2)).map(_.asInstanceOf[String]).getOrElse("parquet"))
        val t = resolve(name)
        oneRow(s, StructType(Seq(intField("imported_files"),
          longField("total_records"))),
          t.liveFiles().size, t.countFromStats().getOrElse(-1L))
      }),
    ProcDef("migrate",
      "Create a NEW table from an existing parquet directory and make it " +
        "SELF-CONTAINED: register the files metadata-only, then compact " +
        "folds them into table-owned native files (the source directory is " +
        "left in place but no longer referenced) — Iceberg's `migrate` " +
        "shape without a Hive source to retire",
      Seq(tableParam,
        ParamDef("source_dir", StringType,
          comment = "directory of files to migrate (recursive)"),
        ParamDef("target_files", IntegerType, Some("NULL"),
          comment = "file count for the fold rewrite (default: ~128MB/file)"),
        ParamDef("format", StringType, Some("'parquet'"),
          comment = "parquet | orc | avro")),
      (s, resolve, a) => {
        val name = a(0).asInstanceOf[String]
        val path = resolve.pathOf(name)
        require(graft.iceberg.IcebergTable.versionHint(path,
            s.sessionState.newHadoopConf()) == 0,
          s"migrate target $name already holds a table")
        IcebergWriter.importDir(s, path, a(1).asInstanceOf[String],
          Option(a(3)).map(_.asInstanceOf[String]).getOrElse("parquet"))
        val folded = Maintenance.compact(s, path, intArg(a(2)))
        val t = resolve(name)
        oneRow(s, StructType(Seq(intField("migrated_files"),
          intField("live_files"), longField("total_records"))),
          folded, t.liveFiles().size, t.countFromStats().getOrElse(-1L))
      }),
    ProcDef("register_table",
      "Create a catalog entry for an EXISTING Iceberg table from its " +
        "metadata.json: data files and manifests stay at their absolute " +
        "paths (only KB-scale metadata + manifest-list copies land under " +
        "the new root); future commits write under the new location",
      Seq(tableParam,
        ParamDef("metadata_file", StringType,
          comment = "path to the source table's vN.metadata.json")),
      (s, resolve, a) => {
        val name = a(0).asInstanceOf[String]
        val metaFile = a(1).asInstanceOf[String]
        resolve.register match {
          // catalog-native registration (REST): the server records the
          // existing metadata file as the entry — zero bytes move
          case Some(reg) => reg(name, metaFile)
          case None =>
            IcebergWriter.registerTable(s, resolve.pathOf(name), metaFile)
        }
        val t = resolve(name)
        oneRow(s, StructType(Seq(longField("current_snapshot_id"),
          longField("total_records"))),
          t.metadata.currentSnapshotId, t.countFromStats().getOrElse(-1L))
      }),
    ProcDef("rewrite_table_path",
      "Prepare a table copy / DR relocation: rewrite every path-bearing " +
        "metadata artifact (metadata.json, manifest lists, manifests) " +
        "from source_prefix to target_prefix into a staging dir and emit " +
        "a (source, target) copy plan — nothing moves, the live table is " +
        "untouched; feed file_list_path to a bulk copier to finish",
      Seq(tableParam,
        ParamDef("source_prefix", StringType,
          comment = "absolute path prefix to replace"),
        ParamDef("target_prefix", StringType,
          comment = "replacement prefix at the copy destination"),
        ParamDef("staging_location", StringType, Some("NULL"),
          comment = "where rewritten metadata lands (default: under the " +
            "table's metadata dir)")),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        // pass the CATALOG's resolution, not a re-resolve: a REST table's
        // current metadata can be ahead of the filesystem version hint
        val r = graft.iceberg.RewriteTablePath.rewriteTable(s, t,
          a(1).asInstanceOf[String], a(2).asInstanceOf[String],
          Option(a(3)).map(_.asInstanceOf[String]))
        oneRow(s, StructType(Seq(
          StructField("staging_location", StringType, nullable = false),
          StructField("file_list_path", StringType, nullable = false),
          intField("manifest_lists"), intField("manifests"),
          longField("data_files"))),
          r.stagingLocation, r.fileListPath, r.manifestLists, r.manifests,
          r.dataFiles)
      }),
    ProcDef("compute_partition_stats",
      "Write + register the spec's partition statistics file (metadata-only)",
      Seq(tableParam),
      (s, resolve, a) => {
        val t = resolve(a(0).asInstanceOf[String])
        val path = graft.iceberg.PartitionStatistics.compute(t.ops)
        oneRow(s, StructType(Seq(
          StructField("statistics_path", StringType, nullable = false))), path)
      }))

  private val byName: Map[String, ProcDef] = all.map(p => p.name -> p).toMap

  val Namespace: Array[String] = Array("system")

  def list(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Namespace) || namespace.isEmpty)
      all.map(p => Identifier.of(Namespace, p.name)).toArray
    else Array.empty

  def load(ident: Identifier, resolve: String => IcebergTable): UnboundProcedure =
    load(ident, ProcContext(resolve))

  def load(ident: Identifier, resolve: String => IcebergTable,
      pathOf: String => String): UnboundProcedure =
    load(ident, ProcContext(resolve, Some(pathOf)))

  def load(ident: Identifier, ctx: ProcContext): UnboundProcedure = {
    require(ident.namespace().sameElements(Namespace),
      s"procedures live in the 'system' namespace, got ${ident.namespace().mkString(".")}")
    val d = byName.getOrElse(ident.name(), throw new IllegalArgumentException(
      s"unknown procedure ${ident.name()}; available: ${all.map(_.name).sorted.mkString(", ")}"))
    new GraftUnboundProcedure(d, ctx)
  }
}

/** A procedure bound to its catalog's table resolver. `bind` RECORDS the
  * analyzer's input type: Spark 4.1's `BindProcedures` + `defaultRearrange`
  * normally deliver `call` a row in FULL DECLARED parameter order (named
  * args reordered, omitted optionals filled from their declared defaults),
  * but the contract only promises a row matching SOME announced layout — so
  * `call` reads by declared position when the arity matches the declared
  * list, and otherwise resolves each declared parameter BY NAME against the
  * bind-time input type (missing optionals evaluate their default SQL).
  * Positional guessing against a mismatched layout is never sound: named
  * args with a skipped middle optional would land values in the wrong
  * slots. */
final class GraftUnboundProcedure(d: GraftProcedures.ProcDef,
    ctx: GraftProcedures.ProcContext)
  extends UnboundProcedure with BoundProcedure {

  override def name(): String = d.name
  override def description(): String = d.description

  private var boundInput: Option[StructType] = None

  override def bind(inputType: StructType): BoundProcedure = {
    boundInput = Option(inputType)
    this
  }

  override def parameters(): Array[ProcedureParameter] =
    d.params.map { p =>
      val b = ProcedureParameter.in(p.name, p.dt)
      p.defaultSql.foreach(b.defaultValue)
      if (p.comment.nonEmpty) b.comment(p.comment)
      b.build()
    }.toArray

  override def isDeterministic: Boolean = false

  /** Evaluate a declared default — see [[GraftProcedures.evalDefault]]. */
  private def defaultValue(p: GraftProcedures.ParamDef): Any =
    GraftProcedures.evalDefault(d.name, p)

  override def call(input: InternalRow): util.Iterator[Scan] = {
    val spark = SparkSession.active
    def read(i: Int, p: GraftProcedures.ParamDef): Any =
      if (input.isNullAt(i)) null
      else input.get(i, p.dt) match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case other => other
      }
    val args: IndexedSeq[Any] =
      if (input.numFields == d.params.size)
        d.params.zipWithIndex.map { case (p, i) => read(i, p) }.toIndexedSeq
      else boundInput match {
        case Some(st) if st.length == input.numFields =>
          d.params.map { p =>
            st.fieldNames.indexOf(p.name) match {
              case -1 => defaultValue(p)
              case i => read(i, p)
            }
          }.toIndexedSeq
        case _ => throw new IllegalStateException(
          s"procedure ${d.name}: input row has ${input.numFields} fields but " +
            s"${d.params.size} parameters are declared and no matching bound " +
            "input type was recorded")
      }
    val df = d.run(spark, ctx, args)
    val out = df.queryExecution.executedPlan.executeCollect()
      .map(_.copy(): InternalRow)
    val schema = df.schema
    util.List.of[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = out
      override def readSchema(): StructType = schema
    }).iterator()
  }
}
