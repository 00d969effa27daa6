package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteAction, Filter, InsertAction, Join, JoinHint, LogicalPlan, MergeIntoTable, Project, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.LongType

/** SQL `UPDATE` for [[GraftCatalog]] tables — the one DML verb
  * Spark's V2 machinery cannot hand a V1-backed table (its
  * group-based rewrite requires a native distributed writer): an
  * injected post-hoc resolution rule claims a resolved
  * [[UpdateTable]] whose relation is a graft table BEFORE Spark's
  * row-level rewrite would refuse it, and replaces it with an eager
  * command running [[Snapshots.updateWhereCond]] — the one
  * copy-on-write UPDATE (stats-pruned when the WHERE is a band,
  * exact attribution either way), so atomic commit, CDC, CHECK
  * constraints and safe-upcast assignment semantics all apply.
  * Wired through [[graft.functions.GraftExtensions]]
  * (`spark.sql.extensions`), the same mechanism every lakehouse
  * engine uses for its DML surface. */
object GraftDml {

  final case class UpdateRule(session: SparkSession)
      extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperators {
        case u @ UpdateTable(rel, assignments, condition)
            if u.resolved =>
          rel.collectFirst {
            case r: DataSourceV2Relation
                if r.table.isInstanceOf[GraftSqlWrites] =>
              r.table.asInstanceOf[GraftSqlWrites]
          } match {
            case Some(t) =>
              require(t.writable,
                s"${t.label} is a pinned time-travel resolution — " +
                  "UPDATE targets the latest version")
              // a subquery's outer reference would rebind by NAME
              // against the SUBQUERY's scope, not the table's — the
              // silent-wrong class; refuse loudly
              (condition.toSeq ++ assignments.map(_.value)).foreach {
                e => require(!e.exists(_.isInstanceOf[
                  org.apache.spark.sql.catalyst.expressions
                    .SubqueryExpression]),
                  "graft UPDATE does not support subqueries in SET/" +
                    "WHERE — materialize the subquery and use " +
                    "Snapshots.upsert")
              }
              // the expressions are carried RESOLVED (CheckAnalysis
              // accepts resolved expressions on a leaf command) and
              // rebound BY NAME at run time against a fresh read
              val sets = assignments.map { a =>
                val name = a.key match {
                  case ar: AttributeReference => ar.name
                  case other => throw new UnsupportedOperationException(
                    s"UPDATE SET target $other — graft columns are " +
                      "top-level")
                }
                name -> a.value
              }
              GraftUpdateCommand(t.storeUrl, sets, condition)
            case None => u
          }

        case m: MergeIntoTable if m.resolved =>
          m.targetTable.collectFirst {
            case r: DataSourceV2Relation
                if r.table.isInstanceOf[GraftSqlWrites] =>
              r.table.asInstanceOf[GraftSqlWrites]
          } match {
            case Some(t) => translateMerge(t, m)
            case None => m
          }
      }
  }

  /** MERGE INTO → [[Snapshots.upsert]]: the FULL clause matrix —
    * any number of `WHEN MATCHED [AND cond] THEN UPDATE/DELETE`,
    * `WHEN NOT MATCHED [AND cond] THEN INSERT`, and `WHEN NOT
    * MATCHED BY SOURCE [AND cond] THEN UPDATE/DELETE` clauses, with
    * standard FIRST-MATCH-WINS ordering inside each group — as ONE
    * atomic keyed upsert ([[GraftMergeMatrixCommand]]), with an
    * equality merge condition. The unconditional SET-star/
    * INSERT-star pair and the bare delete-matched shape keep their
    * join-free fast path ([[GraftMergeCommand]]: the batch IS the
    * projected source). What refuses (loudly, with the shape named —
    * a partial translation that silently mistranslates would be the
    * silent-wrong class): WITH SCHEMA EVOLUTION, non-equality merge
    * conditions, subqueries in clause expressions. Plans and
    * expressions are carried ANALYZED and applied unrebound —
    * attribute ids stay bound, so SET may reference both sides and
    * names may collide across relations. */
  private def translateMerge(t: GraftSqlWrites,
      m: MergeIntoTable): LogicalPlan = {
    def refuse(why: String): Nothing =
      throw new UnsupportedOperationException(
        "graft MERGE INTO supports 'WHEN MATCHED [AND cond] THEN " +
          "UPDATE SET .../DELETE', 'WHEN NOT MATCHED [AND cond] " +
          "THEN INSERT ...', 'WHEN NOT MATCHED BY SOURCE [AND cond] " +
          "THEN UPDATE SET .../DELETE' (several per group, first-" +
          "match-wins) with an equality merge condition; " +
          s"$why. Use Snapshots.upsert for other shapes")
    require(t.writable,
      s"${t.label} is a pinned time-travel resolution — MERGE " +
        "targets the latest version")
    // WITH SCHEMA EVOLUTION is handled UPSTREAM by the analyzer's
    // ResolveMergeIntoSchemaEvolution (gated on the table's
    // AUTOMATIC_SCHEMA_EVOLUTION capability): it computes the
    // source-minus-target columns, evolves the store through
    // GraftCatalog.alterTable → Snapshots.addColumn (a metadata-only
    // commit), reloads the relation and re-resolves the clauses —
    // so by this rule the target schema already carries the new
    // columns and the translation below needs nothing special. The
    // guard only refuses the half-applied state, which would
    // otherwise silently drop the new columns' values.
    if (m.needSchemaEvolution)
      refuse("WITH SCHEMA EVOLUTION left unresolved schema changes")
    val tOut = m.targetTable.outputSet
    val sOut = m.sourceTable.outputSet
    val (tKey, sKey) = m.mergeCondition match {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if tOut.contains(a) && sOut.contains(b) => (a, b)
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if tOut.contains(b) && sOut.contains(a) => (b, a)
      case other => refuse(s"merge condition $other is not a plain " +
        "target-key = source-key equality")
    }
    def subFree(e: Expression): Unit =
      require(!e.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.SubqueryExpression]),
        "graft MERGE does not support subqueries in the source " +
          "assignments")
    val targetCols = m.targetTable.output.map(_.name)
    val identityCols: Seq[(String, Expression)] =
      m.targetTable.output.map(a => a.name -> (a: Expression))
    def setCols(up: Seq[org.apache.spark.sql.catalyst.plans.logical
        .Assignment]): Seq[(String, Expression)] = {
      val setMap = up.map(a => a.key match {
        case ar: AttributeReference =>
          subFree(a.value); ar.name -> a.value
        case other => refuse(s"UPDATE SET target $other is nested")
      }).toMap
      m.targetTable.output.map(a =>
        a.name -> setMap.getOrElse(a.name, a: Expression))
    }
    // parse each clause group into its ORDERED arm list (clause
    // order is the first-match-wins priority)
    def updateOrDelete(group: String)(
        a: org.apache.spark.sql.catalyst.plans.logical.MergeAction)
        : MergeArm = a match {
      case UpdateAction(c, up, _) =>
        c.foreach(subFree)
        MergeArm(c, setCols(up), delete = false)
      case DeleteAction(c) =>
        c.foreach(subFree)
        MergeArm(c, identityCols, delete = true)
      case other => refuse(s"unsupported $group clause: $other")
    }
    val matched: Seq[MergeArm] =
      m.matchedActions.map(updateOrDelete("WHEN MATCHED"))
    val inserts: Seq[MergeArm] = m.notMatchedActions.map {
      case InsertAction(c, ins) =>
        c.foreach(subFree)
        val insMap = ins.map(a => a.key match {
          case ar: AttributeReference => ar.name -> a.value
          case other => refuse(s"INSERT target $other is nested")
        }).toMap
        targetCols.foreach { tc =>
          if (!insMap.contains(tc))
            refuse(s"column $tc is not assigned by the INSERT " +
              "clause")
          subFree(insMap(tc))
        }
        MergeArm(c, targetCols.map(tc => tc -> insMap(tc)),
          delete = false)
      case other =>
        refuse(s"unsupported WHEN NOT MATCHED clause: $other")
    }
    val bySource: Seq[MergeArm] = m.notMatchedBySourceActions
      .map(updateOrDelete("WHEN NOT MATCHED BY SOURCE"))
    if (matched.isEmpty && inserts.isEmpty && bySource.isEmpty)
      refuse("no clauses")
    // classic fast paths keep their join-free translations: the
    // batch IS the projected source
    (matched, inserts, bySource) match {
      case (Seq(MergeArm(None, cols, false)),
          Seq(MergeArm(None, ins, false)), Seq())
          if cols.map(_._2.canonicalized) ==
            ins.map(_._2.canonicalized) =>
        GraftMergeCommand(t.storeUrl, tKey.name, m.sourceTable,
          ins, delete = false)
      case (Seq(MergeArm(None, _, true)), Seq(), Seq()) =>
        GraftMergeCommand(t.storeUrl, tKey.name, m.sourceTable,
          Seq(tKey.name -> sKey), delete = true)
      case _ =>
        GraftMergeMatrixCommand(t.storeUrl, tKey.name,
          m.targetTable, m.sourceTable, m.mergeCondition,
          matched, inserts, bySource)
    }
  }
}

/** Eagerly-executed UPDATE: runs the copy-on-write update and
  * returns the committed version (the current one on a no-match
  * no-op). The carried expressions' attribute ids belong to the
  * analyzed relation; [[run]] rewrites every attribute to a by-name
  * unresolved reference, which the store's fresh effective read
  * resolves (runtime-replaceable expressions evaluate through their
  * replacement child, which the rewrite reaches). */
case class GraftUpdateCommand(url: String,
    sets: Seq[(String, Expression)], cond: Option[Expression])
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def innerChildren: Seq[LogicalPlan] = Nil

  private def rebind(e: Expression)
      : org.apache.spark.sql.Column =
    graft.functions.GraftFunctions.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })

  override def run(session: SparkSession): Seq[Row] = {
    val v = Snapshots.updateWhereCond(session, url,
      cond.map(rebind).getOrElse(lit(true)),
      sets.map { case (n, e) => n -> rebind(e) }.toMap)
    Seq(Row(v.toLong))
  }
}

/** Eagerly-executed MERGE (the [[GraftDml.translateMerge]] shapes):
  * executes the carried source plan — whose attribute ids match the
  * carried expressions, so they apply unrebount — projects it to the
  * store's columns, and runs one keyed [[Snapshots.upsert]]
  * (`delete = true` tombstones the source's keys instead). Returns
  * the committed version. */
case class GraftMergeCommand(url: String, keyCol: String,
    source: LogicalPlan, outCols: Seq[(String, Expression)],
    delete: Boolean) extends LeafRunnableCommand {
  override def output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def innerChildren: Seq[LogicalPlan] = Nil

  override def run(session: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.graftbridge.ColumnBridge
      .ofPlan(session, source)
    // SQL has no bloomIndexUrl parameter slot, so MERGE DISCOVERS
    // the store's conventional key-bloom sidecar
    // ([[Snapshots.bloomSidecarUrl]], maintained by
    // [[Snapshots.indexBloom]]): with it, the copy-on-write upsert
    // rewrites only bloom-admitted files — a 2-key MERGE on a
    // 100k-file store touches the files that can hold those keys,
    // not the store. Absent or stale sidecars stay correct
    // (stageUpsert's coverage guard conservatively rewrites
    // uncovered files; no sidecar means the full rewrite as
    // before).
    val bloom = Snapshots.discoverBloom(session, url, keyCol)
    val v =
      if (delete) {
        // tombstone the source's keys with NO store read at all: a
        // pure-delete batch's non-key values are never used (delete
        // rows are dropped from the insert set; only their KEYS
        // drive the affected-file anti-join), so synthesize the
        // full-schema rows as nulls around the key. Unmatched keys
        // no-op inside the rewrite (they anti-join nothing) — with
        // the discovered bloom, a 2-key MERGE-DELETE touches the
        // files that can hold those keys, never the corpus.
        val schema = Snapshots.headSchema(session, url)
        // a NULL source key is UNMATCHED under SQL join semantics —
        // a no-op for MERGE-DELETE, not a member of the delete batch
        // (the store's upsert contract would loudly refuse it)
        val keys = src.select(graft.functions.GraftFunctions
          .column(outCols.head._2).as(keyCol))
          .filter(col(keyCol).isNotNull).distinct()
        // no-op guard: a MERGE-DELETE matching nothing must not
        // mint a version. The probe early-terminates at the first
        // match (limit 1) — strictly cheaper than the prior full
        // semi-join materialization, and the rewrite itself stays
        // bloom-pruned.
        val anyMatch = Snapshots.read(session, url)
          .join(org.apache.spark.sql.functions.broadcast(keys),
            Seq(keyCol), "left_semi")
          .limit(1).count() > 0
        val updates = keys.select(schema.fieldNames.toSeq.map { f =>
          if (f == keyCol) col(keyCol)
          else lit(null).cast(schema(f).dataType).as(f)
        }: _*).withColumn("__merge_del", lit(true))
        if (!anyMatch) Snapshots.latest(session, url)
        else Snapshots.upsert(session, url, updates, keyCol,
          deleteCol = Some("__merge_del"), bloomIndexUrl = bloom)
      } else {
        val updates = src.select(outCols.map { case (n, e) =>
          graft.functions.GraftFunctions.column(e).as(n) }: _*)
        Snapshots.upsert(session, url, updates, keyCol,
          bloomIndexUrl = bloom)
      }
    Seq(Row(v.toLong))
  }
}
/** One parsed MERGE clause arm: the optional clause condition, the
  * target-schema projection (SET expressions for UPDATE arms, the
  * target's own attributes for DELETE arms), and whether the arm
  * tombstones. */
case class MergeArm(cond: Option[Expression],
  cols: Seq[(String, Expression)], delete: Boolean)

/** Eagerly-executed GENERAL MERGE — the full clause matrix in ONE
  * atomic keyed upsert:
  *  - `matched` (`WHEN MATCHED [AND cond] THEN UPDATE/DELETE`):
  *    σ(arm guard)(target ⋈ source) projected to the store schema;
  *  - `inserts` (`WHEN NOT MATCHED [AND cond] THEN INSERT ...`):
  *    source anti-join target;
  *  - `bySource` (`WHEN NOT MATCHED BY SOURCE [AND cond] THEN
  *    UPDATE/DELETE`): target anti-join source.
  * Each group carries its clauses in statement order with standard
  * FIRST-MATCH-WINS semantics: arm i's guard is its own condition
  * AND the negation of every earlier arm's (null-safe — a NULL
  * earlier condition does not fire, so later arms stay eligible),
  * making arms row-disjoint within a group; a row matching no arm
  * is left untouched (never enters the batch). The three groups are
  * key-disjoint by construction (matched keys are in both
  * relations, insert keys only in the source, by-source keys only
  * in the target), so the union is one well-formed upsert batch;
  * DELETE arms ride the tombstone column. The carried plans keep
  * their analyzed attribute ids — SET may reference both sides
  * (matched), INSERT values the source alone, by-source SETs the
  * target alone (enforced by the analyzer), and names may collide
  * across relations. A source that matches one target key twice
  * fails the upsert's duplicate-key require — the standard MERGE
  * cardinality error, surfaced loudly instead of last-writer-wins.
  * The discovered bloom sidecar prunes the copy-on-write rewrite. */
case class GraftMergeMatrixCommand(url: String, keyCol: String,
    target: LogicalPlan, source: LogicalPlan, mergeCond: Expression,
    matched: Seq[MergeArm],
    inserts: Seq[MergeArm],
    bySource: Seq[MergeArm]) extends LeafRunnableCommand {
  override def output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def innerChildren: Seq[LogicalPlan] = Nil

  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Coalesce, Not}
    def proj(cols: Seq[(String, Expression)], del: Boolean,
        child: LogicalPlan): LogicalPlan =
      Project(cols.map { case (n, e) => Alias(e, n)() } :+
        Alias(Literal(del), "__merge_del")(), child)
    /** One frame per arm over `child`, guarded first-match-wins. */
    def armFrames(arms: Seq[MergeArm], child: => LogicalPlan)
        : Seq[org.apache.spark.sql.DataFrame] = {
      var priors = Seq.empty[Expression]
      arms.map { case MergeArm(cond, cols, del) =>
        val own = cond.getOrElse(Literal(true))
        // null-safe negation: NULL means "did not fire", not
        // "unknown, suppress everything after"
        val guard = priors.foldLeft(own)((acc, p) =>
          And(acc, Not(Coalesce(Seq(p, Literal(false))))))
        priors :+= own
        org.apache.spark.sql.graftbridge.ColumnBridge
          .ofPlan(session, proj(cols, del, Filter(guard, child)))
      }
    }
    val frames =
      armFrames(matched,
        Join(target, source, Inner, Some(mergeCond),
          JoinHint.NONE)) ++
      armFrames(inserts,
        Join(source, target, LeftAnti, Some(mergeCond),
          JoinHint.NONE)) ++
      armFrames(bySource,
        Join(target, source, LeftAnti, Some(mergeCond),
          JoinHint.NONE))
    // analyzed separately, unioned by name: the analyzer's relation
    // dedup handles target/source appearing in several branches
    val batch = frames.reduce(_.unionByName(_))
    val bloom = Snapshots.discoverBloom(session, url, keyCol)
    val v =
      if (batch.isEmpty) Snapshots.latest(session, url)
      else Snapshots.upsert(session, url, batch, keyCol,
        deleteCol = Some("__merge_del"), bloomIndexUrl = bloom)
    Seq(Row(v.toLong))
  }
}
