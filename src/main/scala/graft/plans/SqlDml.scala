package graft.plans

import org.apache.spark.sql.{Column, GraftDmlShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{LongType, StructType}

import graft.metadata.MetadataException
import graft.sources.GraftRelation
import graft.tables.{ManagedTable, MergeInto}
import graft.tables.MergeBuilder.{tagOf, Clause, ClauseKind, Delete, InsertAll,
  InsertSet, Matched, NotMatched, NotMatchedBySource, UpdateAll, UpdateSet}

/** SQL DML over managed tables — `DELETE FROM` / `UPDATE` / `MERGE INTO`
  * through `spark.sql(...)`, the way Delta exposes them (reference runs
  * Delta SQL DML against its catalog tables; this is the equivalent over
  * catalog-registered graft tables).
  *
  * Spark parses these statements natively but executes them only for V2
  * tables with row-level-operation support; a session-catalog V1 table
  * reaches `CheckAnalysis` and fails. This post-hoc resolution rule
  * (injected by [[graft.functions.GraftSparkExtensions]]) intercepts the
  * ANALYZED statements whose target is a graft table and swaps in
  * runnable commands over the existing DataFrame-API engine — the SQL
  * surface adds zero new execution machinery. Conditions and values reach
  * the engine as `Column`s over the analyzed expressions (attributes
  * rebound by name), never as SQL text to parse again:
  *
  *  - `DELETE FROM t WHERE c`        → [[ManagedTable.delete]]
  *    (file-granular rewrite; partition-only predicates are
  *    metadata-only commits)
  *  - `UPDATE t SET a = e WHERE c`   → [[ManagedTable.update]]
  *  - `MERGE INTO t USING s ON cond [WITH SCHEMA EVOLUTION] WHEN ...`
  *    → [[MergeInto]] builder (single-column equi-key conditions take
  *    the keyed broadcast path, the pipeline-PK fast plan; anything
  *    else runs the generic full-outer program)
  *
  * Commands return Delta-shaped metric rows (`num_affected_rows`, and
  * for MERGE the updated/deleted/inserted split). Non-graft targets pass
  * through untouched. */
class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  import SqlDml._

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d: DeleteFromTable if d.childrenResolved =>
      graftTarget(d.table) match {
        case Some((p, cat)) =>
          GraftDeleteCommand(p, condColumn(d.condition, "DELETE"), cat)
        case None => plan
      }
    case u: UpdateTable if u.childrenResolved =>
      graftTarget(u.table) match {
        case Some((p, cat)) =>
          u.assignments.foreach(a => rejectSubqueries(a.value,
            "UPDATE SET values over a graft table"))
          GraftUpdateCommand(p,
            u.assignments.map(a => assignName(a.key) -> plainColumn(a.value)).toMap,
            u.condition.fold(org.apache.spark.sql.functions.lit(true))(
              condColumn(_, "UPDATE")), cat)
        case None => plan
      }
    case m: MergeIntoTable if m.childrenResolved =>
      graftTarget(m.targetTable) match {
        case Some((p, cat)) => translateMerge(m, p, cat)
        case None => plan
      }
    // `CREATE TABLE t (schema) USING graft [PARTITIONED BY …]
    // [TBLPROPERTIES …]` — Spark's V1 command only writes the CATALOG
    // entry; the first read/INSERT would then find no manifest. Delta's
    // DDL creates the transaction log, so wrap the command to follow the
    // catalog write with an empty v0 commit carrying the declared
    // schema, partitioning, and properties. The schema-less registration
    // form (`CREATE TABLE t USING graft LOCATION …` over an existing
    // table) passes through untouched.
    case c: org.apache.spark.sql.execution.command.CreateDataSourceTableCommand
        if graftProvider(c.table) && c.table.schema.nonEmpty =>
      GraftCreateTableCommand(c)
    // `CREATE TABLE t LIKE src [USING graft]` — Spark's command copies
    // only the CATALOG entry; the new table would have no transaction
    // log and every read/INSERT would fail. Follow it with an empty v0
    // carrying the source's schema and partitioning (same
    // DDL-creates-the-log contract as plain CREATE TABLE).
    case c: org.apache.spark.sql.execution.command.CreateTableLikeCommand
        if c.provider.exists(_.equalsIgnoreCase("graft")) ||
          (c.provider.isEmpty &&
            scala.util.Try(session.sessionState.catalog
              .getTableMetadata(c.sourceTable)).toOption
              .exists(graftProvider)) =>
      GraftCreateTableLikeCommand(c)
    // CTAS: Spark's V1 path hands a CreatableRelationProvider only the
    // user OPTIONS — `PARTITIONED BY` would be dropped silently, the one
    // clause that matters most at scale. Splice it into the options the
    // write-side createRelation already honors.
    case c: org.apache.spark.sql.execution.command.CreateDataSourceTableAsSelectCommand
        if graftProvider(c.table) && c.table.partitionColumnNames.nonEmpty &&
          !c.table.storage.properties.contains("partitionBy") =>
      c.copy(table = c.table.copy(storage = c.table.storage.copy(
        properties = c.table.storage.properties +
          ("partitionBy" -> c.table.partitionColumnNames.mkString(",")))))
    case _ => plan
  }

  private def graftProvider(
      ct: org.apache.spark.sql.catalyst.catalog.CatalogTable): Boolean =
    ct.provider.exists(_.equalsIgnoreCase("graft"))

  private def translateMerge(m: MergeIntoTable, path: String,
      catalog: Option[String]): LogicalPlan = {
    val tgt = m.targetTable.outputSet
    val src = m.sourceTable.outputSet
    def qual(e: Expression): Column = qualColumn(e, tgt, src)
    def setMap(as: Seq[Assignment]): Map[String, Column] =
      as.map(a => assignName(a.key) -> qual(a.value)).toMap
    // the analyzer expands `INSERT *` / `UPDATE SET *` against the
    // PRE-EVOLUTION target schema: same-named source attributes covering
    // every target column. Under WITH SCHEMA EVOLUTION that expansion
    // must be recovered to the star form, or the adopted columns would
    // insert/update as NULL even though the source carries values (the
    // builder's InsertAll/UpdateAll resolve against the POST-evolution
    // schema). UPDATE actions carry the analyzer's own `fromStar` flag,
    // so only provable star expansions take the UpdateAll form —
    // hand-written SET lists keep Delta's explicit-assignment semantics
    // (adopted columns untouched). INSERT actions carry NO such flag, so
    // star recovery is structural — a DOCUMENTED deviation in exactly
    // one case: a hand-written INSERT list that covers every
    // pre-evolution column with identity mappings behaves as INSERT *
    // post-evolution (adopted columns receive source values, where Delta
    // would leave them NULL). Scoped to WITH SCHEMA EVOLUTION clauses.
    def stripCast(e: Expression): Expression = e match {
      case c: org.apache.spark.sql.catalyst.expressions.Cast => c.child
      case x => x
    }
    def starLike(as: Seq[Assignment]): Boolean = {
      val tgtNames = m.targetTable.output.map(_.name.toLowerCase).toSet
      as.map(a => assignName(a.key).toLowerCase).toSet == tgtNames &&
      as.forall(a => stripCast(a.value) match {
        case ar: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          src.contains(ar) && ar.name.equalsIgnoreCase(assignName(a.key))
        case _ => false
      })
    }
    def clause(kind: ClauseKind)(a: MergeAction): Clause =
      Clause(kind, a.condition.map(qual), (kind, a) match {
        case (Matched, _: UpdateStarAction) => UpdateAll
        // the analyzer expands UPDATE SET * into per-column assignments
        // with fromStar = true — keep the updateAll fast form for those
        case (Matched, UpdateAction(_, _, true)) => UpdateAll
        case (Matched | NotMatchedBySource, UpdateAction(_, as, _)) =>
          UpdateSet(setMap(as))
        case (Matched | NotMatchedBySource, _: DeleteAction) => Delete
        case (NotMatched, _: InsertStarAction) => InsertAll
        case (NotMatched, InsertAction(_, as))
            if m.withSchemaEvolution && starLike(as) => InsertAll
        case (NotMatched, InsertAction(_, as)) => InsertSet(setMap(as))
        case _ => throw new MetadataException(
          s"MERGE INTO graft table: unsupported action $a")
      })
    rejectSubqueries(m.mergeCondition, "MERGE INTO graft table: ON condition")
    (m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions)
      .foreach(a => a.children.foreach(rejectSubqueries(_,
        "MERGE INTO graft table: clause")))
    val clauses =
      m.matchedActions.map(clause(Matched)) ++
        m.notMatchedActions.map(clause(NotMatched)) ++
        m.notMatchedBySourceActions.map(clause(NotMatchedBySource))
    GraftMergeCommand(path, m.sourceTable, equiKey(m.mergeCondition, tgt, src),
      qual(m.mergeCondition), clauses, m.withSchemaEvolution, catalog)
  }
}

/** SQL time travel over catalog-registered graft tables —
  * `SELECT … FROM t VERSION AS OF 3` / `TIMESTAMP AS OF '…'` (Delta's
  * surface; the reference reads Delta tables where the same syntax
  * applies). Spark resolves time travel only through V2 catalogs, and
  * its session-catalog resolution throws before post-hoc rules run — so
  * this rule is injected into the HINTS batch (which precedes
  * Resolution) and rewrites the parser's `RelationTimeTravel` node over
  * a graft catalog table into a version-pinned [[GraftRelation]] before
  * the built-in resolution ever sees it. Timestamps accept any foldable
  * expression, evaluated with the session timezone; version strings are
  * the commit number. Non-graft tables pass through to Spark's own
  * (failing) path untouched. */
class GraftTimeTravelRule(session: SparkSession) extends Rule[LogicalPlan] {

  import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
  import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
  import org.apache.spark.sql.types.TimestampType

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case tt @ RelationTimeTravel(u: UnresolvedRelation, tsExpr, version) =>
      graftLocation(u.multipartIdentifier) match {
        case Some(path) =>
          val v: Long = version match {
            case Some(s) => s.toLong
            case None =>
              val e = tsExpr.get
              if (!e.resolved || !e.foldable) return plan
              val micros = Cast(e, TimestampType,
                Some(session.sessionState.conf.sessionLocalTimeZone))
                .eval(null)
              micros match {
                case m: java.lang.Long =>
                  graft.tables.ManagedTable(session, path).versionAt(m / 1000L)
                case _ => throw new MetadataException(
                  s"TIMESTAMP AS OF over graft table: cannot evaluate ${e.sql}")
              }
          }
          LogicalRelation(
            GraftRelation(session.sqlContext, path, Some(v)),
            isStreaming = false)
        case None => tt
      }
    // reader-option time travel over a CATALOG table —
    // `spark.read.option("versionAsOf", n).table("db.t")` (Delta's
    // surface; the load(path) form already honors the options through
    // the data source itself). Spark routes table options only to V2
    // relations, so rewrite here before its resolution rejects them.
    case u: UnresolvedRelation
        if (u.options.containsKey("versionAsOf") ||
          u.options.containsKey("timestampAsOf")) &&
          graftLocation(u.multipartIdentifier).isDefined =>
      val path = graftLocation(u.multipartIdentifier).get
      require(!(u.options.containsKey("versionAsOf") &&
          u.options.containsKey("timestampAsOf")),
        "graft: versionAsOf and timestampAsOf are mutually exclusive")
      val v = Option(u.options.get("versionAsOf")).map(_.toLong).getOrElse(
        graft.tables.ManagedTable(session, path).versionAt(
          graft.sources.GraftDataSource.parseTimestamp(
            u.options.get("timestampAsOf"))))
      LogicalRelation(
        GraftRelation(session.sqlContext, path, Some(v)),
        isStreaming = false)
    // Delta-style path escape without registration: SELECT / DML /
    // INSERT over `graft.`/path/to/table``. Only fires when no real
    // database named `graft` exists (the catalog wins the name).
    case u: UnresolvedRelation if isPathEscape(u.multipartIdentifier) =>
      pathRelation(u.multipartIdentifier(1))
    // `[CREATE OR] REPLACE TABLE … USING graft [AS SELECT …]` — the V1
    // session catalog rejects REPLACE TABLE outright (V2-only), so
    // translate before resolution. REPLACE is an overwrite commit on the
    // existing log (history and time travel survive, Delta semantics),
    // not a drop-and-recreate.
    case r: ReplaceTable
        if SqlDml.specProvider(r.tableSpec).exists(_.equalsIgnoreCase("graft")) =>
      SqlDml.GraftReplaceTableCommand(
        SqlDml.identParts(r.name), r.tableSchema,
        SqlDml.identityPartitions(r.partitioning),
        SqlDml.specProps(r.tableSpec), SqlDml.specLocation(r.tableSpec),
        r.orCreate, None)
    case r: ReplaceTableAsSelect
        if SqlDml.specProvider(r.tableSpec).exists(_.equalsIgnoreCase("graft")) =>
      SqlDml.GraftReplaceTableCommand(
        SqlDml.identParts(r.name), new StructType(),
        SqlDml.identityPartitions(r.partitioning),
        SqlDml.specProps(r.tableSpec), SqlDml.specLocation(r.tableSpec),
        r.orCreate, Some(r.query))
    // `INSERT [OVERWRITE] t PARTITION (day=10 | day)` — Spark's own V1
    // resolution checks the spec against CATALOG partitioning and the
    // InsertableRelation path cannot scope an overwrite to a partition
    // anyway, so translate before resolution: static specs become
    // literal-filled columns + a predicate-scoped overwrite (or a plain
    // append), dynamic keys a dynamic partition overwrite.
    case i: InsertIntoStatement if i.partitionSpec.nonEmpty =>
      i.table match {
        case u: UnresolvedRelation =>
          graftLocation(u.multipartIdentifier) match {
            case Some(path) =>
              if (i.ifPartitionNotExists) throw new MetadataException(
                "INSERT ... PARTITION IF NOT EXISTS is not supported " +
                  "over graft tables")
              if (i.userSpecifiedCols.nonEmpty) throw new MetadataException(
                "INSERT ... PARTITION with an explicit column list is " +
                  "not supported over graft tables")
              val cat =
                if (isPathEscape(u.multipartIdentifier)) None
                else catalogGraftTable(u.multipartIdentifier).map(ct =>
                  ct.identifier.database.map(d => s"$d.${ct.identifier.table}")
                    .getOrElse(ct.identifier.table))
              SqlDml.GraftInsertPartitionCommand(path,
                i.partitionSpec.toSeq, i.query, i.overwrite, cat)
            case None => i
          }
        case _ => i
      }
    // InsertIntoStatement carries its target as a FIELD, not a child —
    // the operator traversal never visits it, so rewrite it here
    case i: InsertIntoStatement => i.table match {
      case u: UnresolvedRelation if isPathEscape(u.multipartIdentifier) =>
        i.copy(table = pathRelation(u.multipartIdentifier(1)))
      case _ => i
    }
    // `INSERT INTO t REPLACE WHERE cond SELECT …` parses straight to the
    // V2 OverwriteByExpression; Spark's resolution then REJECTS any V1
    // target outright (writeIntoV1TableNotAllowedError) — so, like time
    // travel, the statement must convert before resolution ever sees it.
    // Matched here before the table child is visited (it is typed
    // NamedRelation, so the generic path-escape rewrite above would CCE
    // on it); the unresolved query travels as a command FIELD and
    // run-time `ofRows` analyzes it.
    case o: OverwriteByExpression => o.table match {
      case u: UnresolvedRelation =>
        graftLocation(u.multipartIdentifier) match {
          case Some(path) =>
            val cat =
              if (isPathEscape(u.multipartIdentifier)) None
              else catalogGraftTable(u.multipartIdentifier).map(ct =>
                ct.identifier.database.map(d => s"$d.${ct.identifier.table}")
                  .getOrElse(ct.identifier.table))
            SqlDml.GraftReplaceWhereCommand(path,
              SqlDml.plainColumn(o.deleteExpr), o.query, cat)
          case None => o
        }
      case _ => o
    }
    // schema DDL — ALTER TABLE RENAME/DROP/ADD COLUMN routes into the
    // metadata-only column-mapping commits (Spark's own resolution
    // rejects these for V1 tables, hence interception here). Nested
    // fields are not supported: managed tables map columns at the top
    // level only.
    case r @ RenameColumn(u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable,
        col, newName) if graftDdl(u.multipartIdentifier) =>
      MaintenanceSql.GraftRenameColumnCommand(
        u.multipartIdentifier, topLevel(col.name, "RENAME COLUMN"), newName)
    case d @ DropColumns(u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable,
        cols, ifExists) if graftDdl(u.multipartIdentifier) =>
      MaintenanceSql.GraftDropColumnsCommand(u.multipartIdentifier,
        cols.map(c => topLevel(c.name, "DROP COLUMN")), ifExists)
    case a @ AddColumns(u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable,
        cols) if graftDdl(u.multipartIdentifier) =>
      MaintenanceSql.GraftAddColumnsCommand(u.multipartIdentifier,
        cols.map(c => topLevel(c.name, "ADD COLUMN") -> c.dataType))
    // TRUNCATE TABLE — Spark's own V1 path would DELETE THE TABLE
    // DIRECTORY CONTENTS, destroying the _graft transaction log along
    // with the data; for graft targets it must be a metadata-only
    // remove-every-file commit (history and time travel survive, vacuum
    // reclaims the bytes on the operator's schedule)
    case tr @ TruncateTable(u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable)
        if graftDdl(u.multipartIdentifier) =>
      MaintenanceSql.GraftTruncateCommand(u.multipartIdentifier)
    // TBLPROPERTIES — manifest-versioned per-table configuration
    // (Spark's own resolution would write them to the catalog entry,
    // where no other cluster's session would see them)
    case s @ SetTableProperties(u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable,
        props) if graftDdl(u.multipartIdentifier) =>
      MaintenanceSql.GraftSetPropertiesCommand(u.multipartIdentifier, props)
    case s @ UnsetTableProperties(u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable,
        keys, _) if graftDdl(u.multipartIdentifier) =>
      MaintenanceSql.GraftUnsetPropertiesCommand(u.multipartIdentifier, keys)
    case s: ShowTableProperties => s.table match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
          if graftDdl(u.multipartIdentifier) =>
        MaintenanceSql.GraftShowPropertiesCommand(
          u.multipartIdentifier, s.propertyKey)
      case _ => s
    }
  }

  private def graftDdl(parts: Seq[String]): Boolean =
    MaintenanceSql.isGraftTarget(session, parts)

  private def topLevel(name: Seq[String], op: String): String = name match {
    case Seq(n) => n
    case other => throw new MetadataException(
      s"$op on graft table: only top-level columns are supported, " +
        s"got ${other.mkString(".")}")
  }

  private def pathRelation(path: String): LogicalRelation =
    LogicalRelation(
      GraftRelation(session.sqlContext, path, None), isStreaming = false)

  private def isPathEscape(parts: Seq[String]): Boolean =
    parts.length == 2 && parts.head.equalsIgnoreCase("graft") &&
      (parts(1).contains("/") || parts(1).contains("\\")) &&
      !session.sessionState.catalog.databaseExists(parts.head)

  /** The graft root behind a time-travel target: a catalog table's
    * location, or the path escape itself. */
  private def graftLocation(parts: Seq[String]): Option[String] =
    if (isPathEscape(parts)) Some(parts(1))
    else catalogGraftTable(parts).map(_.location.toString)

  /** Session-catalog lookup for a (possibly `spark_catalog.`-prefixed)
    * identifier; Some only for an existing `graft`-provider table. */
  private def catalogGraftTable(parts: Seq[String]):
      Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val rest = if (parts.length == 3 &&
      parts.head.equalsIgnoreCase("spark_catalog")) parts.tail else parts
    val id = rest match {
      case Seq(db, t) => TableIdentifier(t, Some(db))
      case Seq(t) => TableIdentifier(t)
      case _ => return None
    }
    val cat = session.sessionState.catalog
    if (!cat.tableExists(id)) None
    else Some(cat.getTableMetadata(id))
      .filter(_.provider.exists(_.equalsIgnoreCase("graft")))
  }
}

object SqlDml {

  /** The graft root path (and, for catalog tables, the `db.t` identity
    * — commits then keep the catalog's stored schema in sync) behind a
    * DML target plan: the session catalog's V1 wrapper (`USING graft`
    * tables — [[GraftDmlShim.graftCatalogTable]]) or a direct V1
    * relation, through any aliasing. */
  private[plans] def graftTarget(plan: LogicalPlan):
      Option[(String, Option[String])] = plan match {
    case SubqueryAlias(_, child) => graftTarget(child)
    case r: DataSourceV2Relation =>
      GraftDmlShim.graftCatalogTable(r.table).map { ct =>
        val name = ct.identifier.database
          .map(d => s"$d.${ct.identifier.table}").getOrElse(ct.identifier.table)
        (ct.location.toString, Some(name))
      }
    case lr: LogicalRelation => lr.relation match {
      // recover the catalog identity when the V1 path resolved it away —
      // schema-changing DML (evolving MERGE, …) must sync the catalog
      // entry or `SELECT *` keeps serving the pre-evolution columns
      case g: GraftRelation => Some((g.path, lr.catalogTable.map(ct =>
        ct.identifier.database.map(d => s"$d.${ct.identifier.table}")
          .getOrElse(ct.identifier.table))))
      case _ => None
    }
    case _ => None
  }

  /** Single-table predicate/value → Column over the table's own columns:
    * resolved attributes are rebound by name, dropping their catalog
    * qualifier (`db.t.id` would not resolve against the managed table's
    * own frame). Everything else — functions, lambdas, uncorrelated
    * subqueries with their analyzed plans — is handed over as analyzed. */
  private[plans] def plainColumn(e: Expression): Column =
    GraftDmlShim.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })

  /** DML condition → Column ([[plainColumn]]). Uncorrelated `IN` / `NOT
    * IN` / `EXISTS` / scalar subqueries keep their analyzed plans, and the
    * engine's own DML machinery evaluates them inside its DataFrame
    * filters (`NOT IN` keeps its three-valued-null semantics). Correlated
    * subqueries are rejected: their outer references point at attribute
    * ids this rebinding drops. That is also Delta's DML contract
    * (uncorrelated only), and the right call at scale: a correlated probe
    * per candidate row is a hidden join the user should write as MERGE
    * instead. */
  private[plans] def condColumn(e: Expression, op: String): Column = {
    if (SubqueryExpression.hasCorrelatedSubquery(e)) throw new MetadataException(
      s"$op over a graft table: only uncorrelated subqueries are " +
        "supported in the condition (rewrite a correlated probe as " +
        "MERGE INTO)")
    plainColumn(e)
  }

  /** Loud rejection for positions where a subquery is not supported
    * (SET values, MERGE conditions — the same positions Delta rejects). */
  private[plans] def rejectSubqueries(e: Expression, what: String): Unit =
    if (SubqueryExpression.hasSubquery(e))
      throw new MetadataException(s"$what: subqueries are not supported here")

  /** Assignment key → bare column name (nested fields unsupported —
    * managed tables merge at row granularity). */
  private[plans] def assignName(key: Expression): String = key match {
    case a: Attribute => a.name
    case other => throw new MetadataException(
      s"graft SQL DML: unsupported assignment target $other " +
        "(only top-level columns)")
  }

  /** Two-sided expression → Column over the merge builder's `target.` /
    * `source.` aliases: each resolved attribute is rebound to its side's
    * canonical prefix (whatever alias the statement used). */
  private[plans] def qualColumn(e: Expression,
      tgt: AttributeSet, src: AttributeSet): Column =
    GraftDmlShim.column(e.transform {
      case a: AttributeReference if tgt.contains(a) =>
        UnresolvedAttribute(Seq("target", a.name))
      case a: AttributeReference if src.contains(a) =>
        UnresolvedAttribute(Seq("source", a.name))
    })

  /** `ON target.k = source.k` (one column, same name both sides) → that
    * key: the merge takes the keyed file-granular path that never
    * shuffles the target. Any other condition → None → generic path. */
  private[plans] def equiKey(cond: Expression,
      tgt: AttributeSet, src: AttributeSet): Option[String] = cond match {
    case org.apache.spark.sql.catalyst.expressions.EqualTo(
        a: AttributeReference, b: AttributeReference) =>
      val (t, s) =
        if (tgt.contains(a) && src.contains(b)) (a, b)
        else if (tgt.contains(b) && src.contains(a)) (b, a)
        else return None
      if (t.name.equalsIgnoreCase(s.name)) Some(t.name) else None
    case _ => None
  }

  private def metricAttrs(names: String*): Seq[Attribute] =
    names.map(n => AttributeReference(n, LongType, nullable = false)())

  private def tableFor(session: SparkSession, path: String,
      catalog: Option[String]): ManagedTable = {
    val t = ManagedTable(session, path)
    t.catalogName = catalog
    t
  }

  final case class GraftDeleteCommand(path: String, cond: Column,
      catalog: Option[String] = None)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = metricAttrs("num_affected_rows")
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(tableFor(session, path, catalog).delete(cond)))
  }

  final case class GraftUpdateCommand(
      path: String, set: Map[String, Column], cond: Column,
      catalog: Option[String] = None)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = metricAttrs("num_affected_rows")
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(tableFor(session, path, catalog).update(set, cond)))
  }

  /** `INSERT INTO … REPLACE WHERE` → predicate-scoped overwrite. The
    * source plan stays a FIELD (not a child): for the path-escape form
    * it arrives unresolved from the hint phase, and `ofRows` analyzes
    * it at run time — the same rehydration [[GraftMergeCommand]] uses. */
  final case class GraftReplaceWhereCommand(path: String, cond: Column,
      source: LogicalPlan, catalog: Option[String] = None)
      extends LeafRunnableCommand {
    override def run(session: SparkSession): Seq[Row] = {
      tableFor(session, path, catalog)
        .overwriteWhere(GraftDmlShim.ofRows(session, source), cond)
      Nil
    }
  }

  // ---- [CREATE OR] REPLACE TABLE helpers (parse-time extraction) ----
  private[plans] def identParts(name: LogicalPlan): Seq[String] = name match {
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
      u.nameParts
    case other => throw new MetadataException(
      s"REPLACE TABLE over graft: unsupported identifier plan $other")
  }
  // at parse time (where the pre-resolution rule runs) the spec is
  // UnresolvedTableSpec; the resolved TableSpec shape is matched too for
  // robustness
  private[plans] def specProvider(ts: TableSpecBase): Option[String] =
    ts match {
      case s: TableSpec => s.provider
      case s: UnresolvedTableSpec => s.provider
      case _ => None
    }
  private[plans] def specProps(ts: TableSpecBase): Map[String, String] =
    ts match {
      case s: TableSpec => s.properties
      case s: UnresolvedTableSpec => s.properties
      case _ => Map.empty
    }
  private[plans] def specLocation(ts: TableSpecBase): Option[String] =
    ts match {
      case s: TableSpec => s.location
      case s: UnresolvedTableSpec => s.location
      case _ => None
    }
  private[plans] def identityPartitions(
      transforms: Seq[org.apache.spark.sql.connector.expressions.Transform]):
      Seq[String] = transforms.map {
    case t if t.name == "identity" && t.references.length == 1 &&
        t.references()(0).fieldNames.length == 1 =>
      t.references()(0).fieldNames()(0)
    case other => throw new MetadataException(
      s"REPLACE TABLE over graft: only PARTITIONED BY (column) is " +
        s"supported, got $other")
  }

  /** `[CREATE OR] REPLACE TABLE` over the session catalog: an overwrite
    * commit on the existing log (history survives — `RESTORE` can undo a
    * bad REPLACE), declared properties applied on top; the catalog entry
    * is altered in place (never drop-and-recreate, which would purge a
    * managed location and its transaction log with it). Plain REPLACE of
    * a missing table fails like Delta; OR CREATE creates it. */
  final case class GraftReplaceTableCommand(
      nameParts: Seq[String],
      declaredSchema: StructType,
      partitionBy: Seq[String],
      props: Map[String, String],
      location: Option[String],
      orCreate: Boolean,
      query: Option[LogicalPlan])
      extends LeafRunnableCommand {
    override def run(session: SparkSession): Seq[Row] = {
      import org.apache.spark.sql.catalyst.TableIdentifier
      import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
      val id = nameParts match {
        case Seq(t) => TableIdentifier(t)
        case Seq(db, t) => TableIdentifier(t, Some(db))
        case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
          TableIdentifier(t, Some(db))
        case other => throw new MetadataException(
          s"REPLACE TABLE over graft: cannot resolve ${other.mkString(".")}")
      }
      val catalog = session.sessionState.catalog
      val existing =
        if (catalog.tableExists(id)) Some(catalog.getTableMetadata(id))
        else None
      if (existing.isEmpty && !orCreate) throw new MetadataException(
        s"REPLACE TABLE ${id.unquotedString}: table not found " +
          "(use CREATE OR REPLACE)")
      existing.foreach(ct =>
        if (!ct.provider.exists(_.equalsIgnoreCase("graft")))
          throw new MetadataException(
            s"REPLACE TABLE ${id.unquotedString}: existing table is not " +
              s"a graft table (provider ${ct.provider.getOrElse("?")})"))
      val loc = location.map(new java.net.URI(_))
        .orElse(existing.map(_.location))
        .getOrElse(catalog.defaultTablePath(id))
      val t = ManagedTable(session, loc.toString)
      val df = query match {
        case Some(q) => GraftDmlShim.ofRows(session, q)
        case None => session.createDataFrame(
          session.sparkContext.emptyRDD[Row], declaredSchema)
      }
      // REPLACE defines the table's metadata from scratch: prior
      // constraints / generated / identity rules and properties are
      // dropped, the declared TBLPROPERTIES alone apply
      t.overwriteAll(df, partitionBy, "replaceTable", resetRules = true)
      if (props.nonEmpty) t.setTableProperties(props)
      // catalog schema: nullable (parquet reads come back nullable) and
      // partition columns LAST (the V1 catalog invariant)
      val nullable = StructType(df.schema.fields.map(_.copy(nullable = true)))
      val dataFields = nullable.fields
        .filterNot(f => partitionBy.exists(_.equalsIgnoreCase(f.name)))
      val partFields = partitionBy.map(pc =>
        nullable.fields.find(_.name.equalsIgnoreCase(pc))
          .getOrElse(throw new MetadataException(
            s"REPLACE TABLE ${id.unquotedString}: partition column $pc " +
              "is not in the schema")))
      val catSchema = StructType(dataFields ++ partFields)
      val ct = CatalogTable(
        identifier = id,
        tableType =
          if (location.isDefined || existing.exists(_.tableType ==
              CatalogTableType.EXTERNAL)) CatalogTableType.EXTERNAL
          else CatalogTableType.MANAGED,
        storage = CatalogStorageFormat.empty.copy(locationUri = Some(loc)),
        schema = catSchema,
        provider = Some("graft"),
        partitionColumnNames = partitionBy,
        properties = props)
      if (existing.isDefined) {
        // SessionCatalog.alterTable leaves the schema alone on some
        // catalog implementations — push the new columns explicitly
        catalog.alterTable(ct)
        catalog.alterTableDataSchema(id, StructType(dataFields))
        catalog.refreshTable(id)
      } else catalog.createTable(ct, ignoreIfExists = false)
      Nil
    }
  }

  /** `INSERT [OVERWRITE] t PARTITION (spec)` — the query's columns map
    * positionally to the table's schema-order columns MINUS the static
    * spec keys (dynamic partition columns stay at their schema position);
    * static keys fill as cast literals. OVERWRITE with an all-static spec
    * scopes to exactly those partitions (one metadata-only remove + the
    * new data — replacing one day of a 100 TB table moves no other
    * bytes); any dynamic key replaces exactly the partitions the data
    * lands in; INSERT INTO appends. */
  final case class GraftInsertPartitionCommand(
      path: String,
      spec: Seq[(String, Option[String])],
      query: LogicalPlan,
      overwrite: Boolean,
      catalog: Option[String] = None)
      extends LeafRunnableCommand {
    override def run(session: SparkSession): Seq[Row] = {
      val t = tableFor(session, path, catalog)
      val m = t.manifest.getOrElse(throw new MetadataException(
        s"INSERT ... PARTITION: no graft table at $path"))
      spec.foreach { case (k, _) =>
        if (!m.partitionColumns.exists(_.equalsIgnoreCase(k)))
          throw new MetadataException(
            s"INSERT ... PARTITION ($k): not a partition column of $path " +
              s"(partitioned by ${m.partitionColumns.mkString(", ")})")
      }
      val static = spec.collect { case (k, Some(v)) => k -> v }
      // a static value unparsable as the column type would cast to NULL:
      // rows land in the null partition while the overwrite predicate
      // matches nothing — fail eagerly instead (Spark/Delta analysis error)
      static.foreach { case (k, v) =>
        val field = m.schema(m.schema.fieldIndex(
          m.schema.fieldNames.find(_.equalsIgnoreCase(k)).get))
        val cast = org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Literal(v),
          field.dataType,
          Some(session.sessionState.conf.sessionLocalTimeZone))
        if (cast.eval() == null)
          throw new MetadataException(
            s"INSERT ... PARTITION ($k='$v') into $path: value cannot be " +
              s"cast to ${field.dataType.simpleString} — fix the literal " +
              "(it would otherwise land in the null partition)")
      }
      val dynamic = spec.collect { case (k, None) => k }
      val specKeys = spec.map(_._1.toLowerCase).toSet
      // positional convention (Hive/Spark): non-spec columns in schema
      // order, then DYNAMIC partition keys last, in spec order
      val remaining = m.schema.fields.map(_.name)
        .filterNot(n => specKeys.contains(n.toLowerCase)) ++
        dynamic.map(k =>
          m.schema.fieldNames.find(_.equalsIgnoreCase(k)).get)
      val df0 = GraftDmlShim.ofRows(session, query)
      if (df0.columns.length != remaining.length)
        throw new MetadataException(
          s"INSERT ... PARTITION into $path: query supplies " +
            s"${df0.columns.length} columns, expected ${remaining.length} " +
            s"(${remaining.mkString(", ")})")
      val renamed = df0.toDF(remaining.toIndexedSeq: _*)
      val withStatics = static.foldLeft(renamed) { case (d, (k, v)) =>
        val field = m.schema(m.schema.fieldIndex(
          m.schema.fieldNames.find(_.equalsIgnoreCase(k)).get))
        d.withColumn(field.name,
          org.apache.spark.sql.functions.lit(v).cast(field.dataType))
      }
      val df = withStatics.select(m.schema.fields.toSeq.map(f =>
        org.apache.spark.sql.functions.col(s"`${f.name}`")): _*)
      if (!overwrite) t.append(df)
      else if (static.size == spec.size)
        t.overwriteWhere(df, static.map { case (k, v) =>
          org.apache.spark.sql.functions.col(s"`$k`") === v
        }.reduce(_ && _))
      else t.overwriteDynamic(df, m.partitionColumns)
      Nil
    }
  }

  /** DDL-creates-the-log (Delta semantics): commit an empty v0 carrying
    * the declared schema, partitioning, and TBLPROPERTIES, THEN run
    * Spark's catalog-entry command — its relation resolution needs the
    * manifest to exist, and the next INSERT/read finds a real table
    * whose behavior travels with it. Idempotent over an existing
    * manifest (re-registration of a live table). */
  final case class GraftCreateTableCommand(
      inner: org.apache.spark.sql.execution.command.CreateDataSourceTableCommand)
      extends LeafRunnableCommand {
    override def run(session: SparkSession): Seq[Row] = {
      val catalog = session.sessionState.catalog
      val id = inner.table.identifier
      // fail/no-op on an existing catalog entry BEFORE touching the log —
      // otherwise a failed `inner.run` leaves an orphan transaction log
      // at the (often managed, derived) location
      if (catalog.tableExists(id)) {
        if (inner.ignoreIfExists) return Nil
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(
            Seq(id.database.getOrElse("default"), id.table))
      }
      val loc = inner.table.storage.locationUri.getOrElse(
        catalog.defaultTablePath(id))
      val t = ManagedTable(session, loc.toString)
      t.manifest match {
        case Some(m) if inner.table.schema.nonEmpty =>
          // re-registration of a live table: the declared schema must
          // agree with the manifest's — a silent mismatch would serve
          // reads under the wrong catalog schema
          def shape(s: org.apache.spark.sql.types.StructType) =
            s.fields.map(f => (f.name.toLowerCase, f.dataType)).toSeq
          if (shape(inner.table.schema) != shape(m.schema))
            throw new MetadataException(
              s"CREATE TABLE ${id.unquotedString}: declared schema " +
                s"(${inner.table.schema.simpleString}) disagrees with the " +
                s"existing graft table at $loc (${m.schema.simpleString})")
        case None =>
          val empty = session.createDataFrame(
            session.sparkContext.emptyRDD[Row], inner.table.schema)
          t.overwriteAll(empty, inner.table.partitionColumnNames, "create")
          val props = inner.table.properties.view.filterKeys(k =>
            !k.startsWith("transient_") && !k.startsWith("spark.sql.")).toMap
          if (props.nonEmpty) t.setTableProperties(props)
        case _ => ()
      }
      // a MANAGED table (no LOCATION clause): Spark's command both
      // re-resolves the relation with no path option AND validates that
      // the managed location does not exist — which the v0 log we just
      // committed fails. Register the entry directly instead: the schema
      // and partitioning are exactly what the manifest carries, and the
      // recorded location makes DROP TABLE clean the log up with the
      // data, the managed contract.
      if (inner.table.storage.locationUri.isDefined) inner.run(session)
      else {
        // normalize like CreateDataSourceTableCommand would have: the V1
        // catalog invariant stores partition columns LAST in the schema
        // (the same reorder the replaceTable path applies) — a statement
        // declaring them mid-schema must not register a divergent order
        val parts = inner.table.partitionColumnNames
        val dataFields = inner.table.schema.fields
          .filterNot(f => parts.exists(_.equalsIgnoreCase(f.name)))
        val partFields = parts.map(pc =>
          inner.table.schema.fields.find(_.name.equalsIgnoreCase(pc))
            .getOrElse(throw new MetadataException(
              s"CREATE TABLE ${id.unquotedString}: partition column $pc " +
                "is not in the schema")))
        catalog.createTable(
          inner.table.copy(
            schema = org.apache.spark.sql.types.StructType(
              dataFields ++ partFields),
            storage = inner.table.storage.copy(locationUri = Some(loc))),
          inner.ignoreIfExists,
          /* validateTableLocation = */ false)
        Nil
      }
    }
  }

  /** `CREATE TABLE t LIKE src`: run Spark's catalog-copy command, then
    * commit the empty v0 the new location needs — schema and
    * partitioning from the just-created catalog entry (the source's).
    * Ordering matters the other way around here: the catalog command
    * carries its own existence/validation checks, and a failure must
    * not leave an orphan log. */
  final case class GraftCreateTableLikeCommand(
      inner: org.apache.spark.sql.execution.command.CreateTableLikeCommand)
      extends LeafRunnableCommand {
    override def run(session: SparkSession): Seq[Row] = {
      inner.run(session)
      val catalog = session.sessionState.catalog
      val ct = catalog.getTableMetadata(inner.targetTable)
      val loc = ct.storage.locationUri.getOrElse(
        catalog.defaultTablePath(inner.targetTable))
      val t = ManagedTable(session, loc.toString)
      if (t.manifest.isEmpty) {
        val empty = session.createDataFrame(
          session.sparkContext.emptyRDD[Row], ct.schema)
        t.overwriteAll(empty, ct.partitionColumnNames, "create")
        val props = ct.properties.view.filterKeys(k =>
          !k.startsWith("transient_") && !k.startsWith("spark.sql.")).toMap
        if (props.nonEmpty) t.setTableProperties(props)
      }
      Nil
    }
  }

  /** MERGE over the builder; `source` is the statement's analyzed source
    * plan, rehydrated at run time. The metric row splits affected rows
    * the way Delta's MERGE output does, summed from the builder's
    * per-clause counts by each clause's action. */
  final case class GraftMergeCommand(
      path: String,
      source: LogicalPlan,
      key: Option[String],
      cond: Column,
      clauses: Seq[Clause],
      schemaEvolution: Boolean,
      catalog: Option[String] = None)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = metricAttrs("num_affected_rows",
      "num_updated_rows", "num_deleted_rows", "num_inserted_rows")
    override def run(session: SparkSession): Seq[Row] = {
      val t = tableFor(session, path, catalog)
      val srcDf = GraftDmlShim.ofRows(session, source)
      val b = key match {
        case Some(k) => MergeInto.byKey(t, srcDf, k)
        case None => MergeInto(t, srcDf, cond)
      }
      if (schemaEvolution) b.withSchemaEvolution()
      clauses.foreach(b.add)
      val metrics = b.execute()
      val counts = clauses.zipWithIndex.map { case (c, i) =>
        c.action -> metrics.byTag.getOrElse(tagOf(c, i), 0L) }
      val deleted = counts.collect { case (Delete, n) => n }.sum
      val inserted = counts.collect {
        case (InsertAll | _: InsertSet, n) => n }.sum
      val updated = counts.map(_._2).sum - deleted - inserted
      Seq(Row(updated + deleted + inserted, updated, deleted, inserted))
    }
  }
}
