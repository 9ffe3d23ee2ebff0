package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel,
  UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.TimestampType

/** SQL time travel over [[graft.operators.VersionedStore]] tables:
  * resolves the parser's native `VERSION AS OF n` / `TIMESTAMP AS OF
  * ts` suffix (which Spark emits as an unresolved
  * [[RelationTimeTravel]] node and, without a v2 catalog, would
  * reject during analysis) against store views registered through
  * `VersionedStore.registerTable` —
  *
  * {{{
  * VersionedStore.registerTable(spark, path, "doc_store")
  * spark.sql("SELECT * FROM doc_store VERSION AS OF 2")
  * spark.sql("SELECT * FROM doc_store TIMESTAMP AS OF '2026-01-01'")
  * }}}
  *
  * An analyzer (resolution) rule, not an optimizer rule, because the
  * node must become a resolved relation before analysis completes;
  * activated at session build via `spark.sql.extensions =
  * graft.functions.GraftExtensions`. Names not registered with the
  * store fall through untouched (a v2 catalog table keeps its own
  * time-travel semantics). `TIMESTAMP AS OF` resolves through the
  * commit timestamps persisted in the log — the newest version
  * committed at or before the instant — so it costs one cached log
  * read, never a data scan.
  */
class StoreTimeTravelRule(session: SparkSession)
    extends Rule[LogicalPlan] {
  import graft.operators.VersionedStore
  import org.apache.spark.sql.catalyst.plans.logical.{Assignment,
    DeleteFromTable, InsertIntoStatement, UpdateTable}
  import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute

  /** Registry lookup for a one- or two-part (`db.table`) relation
    * name — the registry key is the dot-joined lowercase name.
    */
  private def regPath(u: UnresolvedRelation): Option[String] =
    if (u.multipartIdentifier.size <= 2)
      VersionedStore.registeredPath(u.multipartIdentifier.mkString("."))
    else None

  /** DML target resolution: the registry first, then catalog
    * tables (`lake[.ns].t` of a configured
    * [[graft.sources.GraftStoreCatalog]]) — so DELETE/UPDATE/MERGE
    * work on catalog tables through the SAME one-commit commands,
    * instead of failing Spark's SupportsRowLevelOperations
    * requirement. Bare reads of catalog names deliberately do NOT
    * resolve here — they stay on the native v2 relation path
    * ([[GraftCatalogRule]] swaps the plan).
    */
  private def pathOf(p: LogicalPlan): Option[String] = p match {
    case u: UnresolvedRelation =>
      graft.sources.GraftStoreCatalog.storePath(u.multipartIdentifier,
        session)
    // a catalog target usually arrives ALREADY RESOLVED: builtin
    // resolution runs before injected rules within each analyzer
    // iteration, so the DML statement's child is the v2 relation by
    // the time this rule sees it (registry names stay unresolved —
    // the builtins don't know them). Never a pinned snapshot.
    case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2Relation
        if r.table.isInstanceOf[graft.sources.GraftStoreTable] =>
      val t = r.table.asInstanceOf[graft.sources.GraftStoreTable]
      if (t.pinnedVersion.isEmpty) Some(t.path) else None
    case org.apache.spark.sql.catalyst.plans.logical
      .SubqueryAlias(_, child) => pathOf(child) // MERGE INTO t AS tgt
    case _ => None
  }

  /** The alias a DML target was given (`DELETE FROM t AS x`), if
    * any — its qualifier must be stripped from the statement's
    * attributes before they can bind against the store DataFrame
    * (which carries no alias at run time).
    */
  private def aliasOf(p: LogicalPlan): Option[String] = p match {
    case org.apache.spark.sql.catalyst.plans.logical
      .SubqueryAlias(ident, _) => Some(ident.name)
    case _ => None
  }

  private def stripQual(alias: Option[String],
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    // a catalog target's expressions arrive RESOLVED (builtin
    // resolution precedes injected rules): re-open them to plain
    // names — UPDATE/DELETE bind one frame, so the qualifier is
    // noise and the exprIds would never bind against the store's
    // own DataFrame at run time
    val reopened = e.transform {
      case a: org.apache.spark.sql.catalyst.expressions
          .AttributeReference => UnresolvedAttribute(Seq(a.name))
    }
    alias match {
      case None => reopened
      case Some(a) => reopened.transform {
        case u: UnresolvedAttribute if u.nameParts.size > 1 &&
            u.nameParts.head.equalsIgnoreCase(a) =>
          UnresolvedAttribute(u.nameParts.tail)
      }
    }
  }

  /** The qualifier names a MERGE side can carry in the ON clause:
    * its alias when one was given, else its bare relation name.
    */
  private def qualsOf(p: LogicalPlan): Set[String] = p match {
    case org.apache.spark.sql.catalyst.plans.logical
      .SubqueryAlias(ident, _) => Set(ident.name.toLowerCase)
    case u: UnresolvedRelation =>
      Set(u.multipartIdentifier.last.toLowerCase)
    case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2Relation => // unaliased resolved catalog target
      r.identifier.map(_.name.toLowerCase).toSet
    case _ => Set.empty
  }

  /** Rebase a matched-action expression (UPDATE SET value, WHEN
    * MATCHED condition) onto [[graft.operators.VersionedStore
    * .mergeInto]]'s joined namespace: target-qualified attributes
    * bind plainly, source-qualified ones as `_src_<name>`.
    * Unqualified names bind against the target (the joined frame
    * carries target columns under their own names); an unknown
    * qualifier is left as-is and fails analysis loudly. A reference
    * DEEPER than the qualifier (`t.addr.city`) keeps its full
    * remaining path — only the alias strips, so struct-field access
    * rebases to the joined column's nested field, never to a
    * wrongly-flattened name.
    */
  private def matchedExpr(tq: Set[String], sq: Set[String],
      tgtIds: Set[Long], srcIds: Set[Long],
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    e.transform {
      case u: UnresolvedAttribute if u.nameParts.size > 1 =>
        val q = u.nameParts.head.toLowerCase
        if (sq.contains(q) && !tq.contains(q))
          UnresolvedAttribute(
            s"_src_${u.nameParts(1)}" +: u.nameParts.drop(2))
        else if (tq.contains(q) && !sq.contains(q))
          UnresolvedAttribute(u.nameParts.tail)
        else u
      // already-resolved references (catalog targets): the side is
      // the EXPRESSION ID's owner, not a name-qualifier guess
      case a: org.apache.spark.sql.catalyst.expressions
          .AttributeReference =>
        if (tgtIds.contains(a.exprId.id))
          UnresolvedAttribute(Seq(a.name))
        else if (srcIds.contains(a.exprId.id))
          UnresolvedAttribute(Seq(s"_src_${a.name}"))
        else a
    }

  /** Rebase a not-matched-action expression (INSERT value / WHEN
    * NOT MATCHED condition) onto the SOURCE row: source-qualified
    * attributes bind plainly; a target-qualified attribute is a
    * semantic error (an unmatched row has no target side).
    */
  private def sourceExpr(tq: Set[String], sq: Set[String],
      tgtIds: Set[Long], srcIds: Set[Long],
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    e.transform {
      case u: UnresolvedAttribute if u.nameParts.size > 1 =>
        val q = u.nameParts.head.toLowerCase
        if (sq.contains(q) && !tq.contains(q))
          UnresolvedAttribute(u.nameParts.tail)
        else if (tq.contains(q) && !sq.contains(q)) sys.error(
          "MERGE INTO a store table: a NOT MATCHED action can " +
            s"reference only the source row, got ${u.sql}")
        else u
      case a: org.apache.spark.sql.catalyst.expressions
          .AttributeReference =>
        if (srcIds.contains(a.exprId.id))
          UnresolvedAttribute(Seq(a.name))
        else if (tgtIds.contains(a.exprId.id)) sys.error(
          "MERGE INTO a store table: a NOT MATCHED action can " +
            s"reference only the source row, got ${a.sql}")
        else a
    }

  /** The equi-key list of a MERGE condition: a conjunction of
    * `t.k = s.k` equalities over IDENTICALLY-NAMED columns with the
    * two attributes on OPPOSITE sides (the only join shape the
    * store's keyed merge expresses). Each equality must reference
    * one target-side and one source-side attribute — qualified by
    * the respective alias/name, or unqualified; a same-side
    * equality (`ON s.id = s.id`) or an unknown qualifier → None,
    * and the caller rejects with the supported forms named, never
    * silently reinterprets it as a keyed merge.
    */
  private def mergeKeys(cond: org.apache.spark.sql.catalyst
        .expressions.Expression, tgtQuals: Set[String],
      srcQuals: Set[String], tgtIds: Set[Long],
      srcIds: Set[Long]): Option[Seq[String]] = {
    import org.apache.spark.sql.catalyst.expressions.{And,
      AttributeReference, EqualTo, Expression}
    // 0 = unqualified, 1 = target, 2 = source, -1 = unknown/ambiguous
    def side(e: Expression): Int = e match {
      case u: UnresolvedAttribute =>
        if (u.nameParts.size <= 1) 0
        else {
          val q = u.nameParts.head.toLowerCase
          (tgtQuals.contains(q), srcQuals.contains(q)) match {
            case (true, false) => 1
            case (false, true) => 2
            case _ => -1
          }
        }
      // resolved reference (catalog target): the side is the
      // expression id's owner — exact, no qualifier guessing
      case a: AttributeReference =>
        (tgtIds.contains(a.exprId.id),
          srcIds.contains(a.exprId.id)) match {
          case (true, false) => 1
          case (false, true) => 2
          case _ => -1
        }
      case _ => -1
    }
    def nameOf(e: Expression): Option[String] = e match {
      case u: UnresolvedAttribute => Some(u.nameParts.last)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    cond match {
      case And(l, r) =>
        for {
          a <- mergeKeys(l, tgtQuals, srcQuals, tgtIds, srcIds)
          b <- mergeKeys(r, tgtQuals, srcQuals, tgtIds, srcIds)
        } yield a ++ b
      case EqualTo(a, b)
          if nameOf(a).isDefined && nameOf(a) == nameOf(b) =>
        val (sa, sb) = (side(a), side(b))
        if (sa < 0 || sb < 0) None
        else if (sa != 0 && sa == sb) None // ON s.id = s.id
        else if (sa == 0 && sb == 0) None // ON id = id: a tautology
          // (or an ambiguous reference), never silently a key join —
          // qualify at least one side (t.id = id / t.id = s.id)
        else Some(Seq(nameOf(a).get))
      case _ => None
    }
  }

  /** TOP-DOWN, so a DML statement over a registered name is
    * intercepted while its table child is still an
    * [[UnresolvedRelation]] — bottom-up would resolve the child to
    * the store relation first and the builtin analyzer would then
    * reject "DELETE is only supported with v2 tables" before this
    * rule ever saw the statement.
    */
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsDown {
      // ---- SQL DML over registered store tables: each statement
      // ---- becomes ONE driver-side command = one atomic store
      // ---- commit (StoreDmlCommands). Predicates/SETs/source stay
      // ---- unresolved inside the leaf command and bind at run time.
      case InsertIntoStatement(t, partSpec, userCols, query,
          overwrite, ifPartitionNotExists, byName)
          if pathOf(t).isDefined =>
        val _ = ifPartitionNotExists
        if (partSpec.nonEmpty) {
          // STATIC spec only: every partition column carries a
          // literal. OVERWRITE replaces exactly that region as one
          // replaceWhere commit; plain INSERT appends the
          // spec-filled batch. A dynamic spec is refused, not
          // guessed (dynamic overwrite is
          // df.writeTo(t).overwritePartitions()).
          val dyn = partSpec.collect {
            case (c, None) => c
          }
          if (dyn.nonEmpty) sys.error(
            "INSERT ... PARTITION over a store table: dynamic " +
              s"partition column(s) ${dyn.mkString(", ")} carry no " +
              "value — use a static spec (c = value), or " +
              "df.writeTo(t).overwritePartitions() for dynamic " +
              "overwrite")
          require(userCols.isEmpty && !byName,
            "INSERT ... PARTITION over a store table takes no " +
              "column list / BY NAME (the spec fixes the partition " +
              "columns; the query supplies the rest by position)")
          StoreReplacePartitionCommand(pathOf(t).get, query,
            partSpec.toSeq.map { case (c, v) => (c, v.get) },
            overwrite = overwrite)
        } else StoreInsertCommand(pathOf(t).get, query, userCols,
          overwrite = overwrite, byName = byName)
      // df.writeTo(t).overwritePartitions(): Spark has no V1Write
      // fallback for dynamic overwrite, so the resolved node routes
      // here instead — replace exactly the clustered keys present
      // in the batch, one replaceWhere commit
      case o: org.apache.spark.sql.catalyst.plans.logical
          .OverwritePartitionsDynamic if pathOf(o.table).isDefined =>
        StoreDynamicOverwriteCommand(pathOf(o.table).get, o.query)
      case DeleteFromTable(t, cond) if pathOf(t).isDefined =>
        // an absent WHERE arrives as a literal TRUE from the parser
        val real = Option(cond).filterNot(
          _ == org.apache.spark.sql.catalyst.expressions.Literal
            .TrueLiteral)
        StoreDeleteCommand(pathOf(t).get,
          real.map(e => new SqlExpr(stripQual(aliasOf(t), e))))
      case m: org.apache.spark.sql.catalyst.plans.logical
          .MergeIntoTable if pathOf(m.targetTable).isDefined =>
        import org.apache.spark.sql.catalyst.plans.logical.{
          Assignment, DeleteAction, InsertAction, InsertStarAction,
          UpdateAction, UpdateStarAction}
        def outIds(p: LogicalPlan): Set[Long] =
          if (p.resolved) p.output.map(_.exprId.id).toSet
          else Set.empty
        val tgtIds = outIds(m.targetTable)
        val srcIds = outIds(m.sourceTable)
        val keys = mergeKeys(m.mergeCondition,
          qualsOf(m.targetTable), qualsOf(m.sourceTable),
          tgtIds, srcIds)
          .getOrElse(sys.error(
          "MERGE INTO a store table: the ON condition must be a " +
            "conjunction of equalities over identically-named key " +
            "columns with one target-side and one source-side " +
            "attribute each (t.k = s.k [AND …])"))
        if (m.withSchemaEvolution || m.notMatchedBySourceActions
          .nonEmpty) sys.error(
          "MERGE INTO a store table supports neither WITH SCHEMA " +
            "EVOLUTION nor WHEN NOT MATCHED BY SOURCE")
        val src = m.sourceTable match {
          case org.apache.spark.sql.catalyst.plans.logical
            .SubqueryAlias(_, child) => child
          case other => other
        }
        (m.matchedActions, m.notMatchedActions) match {
          case (Seq(UpdateStarAction(None)),
              Seq(InsertStarAction(None))) =>
            StoreMergeCommand(pathOf(m.targetTable).get, src,
              keys.distinct, upsert = true)
          case (Seq(DeleteAction(None)), Seq()) =>
            StoreMergeCommand(pathOf(m.targetTable).get, src,
              keys.distinct, upsert = false)
          case (ma, nma) =>
            // the GENERAL forms — conditional and per-column WHEN
            // clauses, first-match-wins — routed to mergeInto as
            // one atomic commit. Expressions rebase onto the
            // run-time namespace here: matched-side exprs see
            // target columns plainly and source columns as
            // `_src_<name>`; insert-side exprs see the SOURCE row
            // only.
            val tq = qualsOf(m.targetTable)
            val sq = qualsOf(m.sourceTable)
            def matchedSpec(a: Any): StoreMergeActionSpec = a match {
              case UpdateStarAction(c) => StoreMergeActionSpec(
                "update", c.map(e =>
                  new SqlExpr(matchedExpr(tq, sq, tgtIds, srcIds, e))), Nil,
                star = true)
              case UpdateAction(c, assigns, _) =>
                val sets = assigns.map {
                  case Assignment(k: UnresolvedAttribute, value) =>
                    (k.nameParts.last,
                      new SqlExpr(matchedExpr(tq, sq, tgtIds,
                        srcIds, value)))
                  case Assignment(k: org.apache.spark.sql.catalyst
                      .expressions.AttributeReference, value) =>
                    (k.name, new SqlExpr(matchedExpr(tq, sq,
                      tgtIds, srcIds, value)))
                  case other => sys.error(
                    "MERGE INTO a store table: unsupported SET " +
                      s"target ${other.key.sql} (name a plain " +
                      "column)")
                }
                StoreMergeActionSpec("update", c.map(e =>
                  new SqlExpr(matchedExpr(tq, sq, tgtIds, srcIds, e))), sets,
                  star = false)
              case DeleteAction(c) => StoreMergeActionSpec(
                "delete", c.map(e =>
                  new SqlExpr(matchedExpr(tq, sq, tgtIds, srcIds, e))), Nil,
                star = false)
              case other => sys.error(
                s"MERGE INTO a store table: unsupported matched " +
                  s"action $other")
            }
            def insertSpec(a: Any): StoreMergeActionSpec = a match {
              case InsertStarAction(c) => StoreMergeActionSpec(
                "insert", c.map(e =>
                  new SqlExpr(sourceExpr(tq, sq, tgtIds, srcIds, e))), Nil,
                star = true)
              case InsertAction(c, assigns) =>
                val values = assigns.map {
                  case Assignment(k: UnresolvedAttribute, value) =>
                    (k.nameParts.last,
                      new SqlExpr(sourceExpr(tq, sq, tgtIds,
                        srcIds, value)))
                  case Assignment(k: org.apache.spark.sql.catalyst
                      .expressions.AttributeReference, value) =>
                    (k.name, new SqlExpr(sourceExpr(tq, sq,
                      tgtIds, srcIds, value)))
                  case other => sys.error(
                    "MERGE INTO a store table: unsupported INSERT " +
                      s"column ${other.key.sql}")
                }
                StoreMergeActionSpec("insert", c.map(e =>
                  new SqlExpr(sourceExpr(tq, sq, tgtIds, srcIds, e))), values,
                  star = false)
              case other => sys.error(
                s"MERGE INTO a store table: unsupported not-matched " +
                  s"action $other")
            }
            StoreMergeIntoCommand(pathOf(m.targetTable).get, src,
              keys.distinct, ma.map(matchedSpec),
              nma.map(insertSpec))
        }
      case UpdateTable(t, assignments, cond)
          if pathOf(t).isDefined =>
        val al = aliasOf(t)
        val sets = assignments.map {
          case Assignment(k: UnresolvedAttribute, v) =>
            (k.nameParts.last, new SqlExpr(stripQual(al, v)))
          case Assignment(k: org.apache.spark.sql.catalyst
              .expressions.AttributeReference, v) =>
            (k.name, new SqlExpr(stripQual(al, v)))
          case a => sys.error(
            s"UPDATE on a store table: unsupported SET target " +
              s"${a.key.sql} (name a plain column)")
        }
        StoreUpdateCommand(pathOf(t).get, sets,
          cond.map(e => new SqlExpr(stripQual(al, e))))

      // the bare registered name = LATEST, resolved fresh per query
      // (builtin rules run first each iteration, so a real catalog
      // table or temp view of the same name wins over the registry)
      case u: UnresolvedRelation if regPath(u).isDefined =>
        VersionedStore.read(session, regPath(u).get)
          .queryExecution.analyzed
      case RelationTimeTravel(u: UnresolvedRelation, ts, v)
          if regPath(u).isDefined =>
        val name = u.multipartIdentifier.mkString(".")
        val path = regPath(u).get
        val version = (v, ts) match {
          case (Some(vs), _) =>
            try vs.toLong
            catch {
              case _: NumberFormatException => sys.error(
                s"VERSION AS OF over store view $name expects a " +
                  s"numeric commit version, got '$vs'")
            }
          case (None, Some(expr)) if expr.foldable =>
            val micros = Cast(expr, TimestampType,
              Some(session.sessionState.conf.sessionLocalTimeZone))
              .eval() match {
              case l: java.lang.Long => l.longValue()
              case _ => sys.error(
                s"TIMESTAMP AS OF over store view $name: cannot " +
                  "evaluate the timestamp expression")
            }
            VersionedStore
              .versionAtTimestamp(session, path, micros / 1000L)
          case _ => sys.error(
            s"time travel over store view $name needs VERSION AS " +
              "OF <n> or a literal TIMESTAMP AS OF")
        }
        VersionedStore.readAt(session, path, version)
          .queryExecution.analyzed
    }
}
