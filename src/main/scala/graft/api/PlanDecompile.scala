package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DataType, NullType}

/** The other half of `ibis.to_sql` (reference `ibis/expr/sql.py:to_sql`,
  * re-exported at the package top level; golden-SQL snapshots in
  * `ibis/backends/tests/sql/test_select_sql.py`): render a Table COMPOSED
  * THROUGH THE FLUENT API — not just one decompiled from SQL text — back
  * to SQL. [[SqlDecompile]] covers parsed trees; this decompiles the
  * engine's own ANALYZED LogicalPlan into the same walkable [[SqlOp]]
  * ADT, so one renderer (spark + duckdb dialects) serves both origins.
  *
  * Coverage is the relational core a fluent pipeline produces:
  * relation / project / filter / aggregate / join (all types, self-joins
  * via fresh `tN` aliases) / sort / limit+offset / distinct / set ops /
  * window nodes. Attribute references resolve by EXPR ID into the alias
  * scope built bottom-up — name collisions across join sides can never
  * mis-bind. Anything outside the core REFUSES (throws [[Refused]]),
  * never emits wrong SQL; and every successful render is additionally
  * verified: the spark-dialect text is re-parsed, its relations
  * substituted with the original leaf plans, and the OPTIMIZED plan must
  * be semantically identical (`sameResult`) to the input's with matching
  * output names/types — a rendering that analysis would accept but that
  * computes something else is refused, not returned. */
object PlanDecompile {

  /** The refusal contract: unsupported shape or failed faithfulness
    * check. Never emitted SQL is the failure mode — wrong SQL never is. */
  final class Refused(msg: String) extends UnsupportedOperationException(msg)

  private def refuse(msg: String): Nothing =
    throw new Refused(s"renderSql(plan): $msg — refusing rather than emitting wrong SQL")

  /** Decompile `df`'s analyzed plan into a walkable [[SqlOp]] tree
    * (throws [[Refused]] outside the supported core). The tree rebuilds
    * ([[SqlOp.table]]) against relation NAMES, so rebuilding requires
    * the referenced tables in the session catalog; rendering does not.
    * Multi-referenced deterministic subplans lift into `WITH` CTEs
    * (round 12, the reference's extract_ctes pass —
    * ibis/backends/sql/rewrites.py:335-347); if the CTE form refuses,
    * the decompile retries with extraction disabled. */
  def decompile(df: DataFrame): SqlOp = {
    val run = new Run
    try decTop(df.queryExecution.analyzed, extractCtes = true)(run)
    catch {
      case _: Refused if run.ctesAttempted =>
        decTop(df.queryExecution.analyzed, extractCtes = false)(new Run)
    }
  }

  /** Decompile + render in `dialect` ("spark" | "duckdb"), with the
    * faithfulness gate: the spark-dialect rendering must re-analyze (over
    * the ORIGINAL relation leaves, no catalog needed) to the same output
    * schema and a `sameResult`-identical optimized plan. CTE extraction
    * is attempted first; any refusal on the CTE form (including a failed
    * gate) falls back to the inline form before refusing for good. */
  def renderSql(df: DataFrame, dialect: String = "spark"): String = {
    def attempt(extract: Boolean, run: Run): (String, SqlOp) = {
      val op = decTop(df.queryExecution.analyzed, extract)(run)
      val sparkSql = SqlDecompile.renderSql(op, "spark")
      verify(df, sparkSql, run)
      (sparkSql, op)
    }
    val first = new Run
    val (sparkSql, op) =
      try attempt(true, first)
      catch {
        // only retry when extraction actually changed the rendering — a
        // plain refusal refuses identically either way
        case _: Refused if first.ctesAttempted =>
          attempt(false, new Run)
      }
    if (dialect == "spark") sparkSql else SqlDecompile.renderSql(op, dialect)
  }

  /** Re-parse the spark rendering, splice the original relation leaves in
    * place of the by-name references, and demand semantic equality. A
    * rendering with a WITH clause (or an input plan that carried one)
    * compares after CTE INLINING at the ANALYZED stage on BOTH sides —
    * each reference gets a fresh-exprId copy of its def — so the
    * optimizer sees the same inline shape either way and per-branch
    * rewrites (pushdown into one branch only) cannot fail the gate. */
  private def verify(df: DataFrame, sparkSql: String, run: Run): Unit = {
    val spark = df.sparkSession
    val lower = run.rels.map { case (k, v) => k.toLowerCase -> v }.toMap
    val parsed =
      try spark.sessionState.sqlParser.parsePlan(sparkSql)
      catch { case e: Exception => refuse(s"rendered SQL does not re-parse: ${e.getMessage}") }
    // transformUpWithSubqueries: rendered subquery expressions hold
    // nested plans whose relations need the same splice; CTE bodies are
    // NOT plan children of UnresolvedWith (they ride in cteRelations),
    // so they recurse explicitly — without this the splice silently
    // skips every relation inside a WITH body
    def splice(p: LogicalPlan): LogicalPlan = p.transformUpWithSubqueries {
      case UnresolvedRelation(parts, _, _)
          if parts.size == 1 && lower.contains(parts.head.toLowerCase) =>
        lower(parts.head.toLowerCase)
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, b, o) =>
          (n, splice(b).asInstanceOf[SubqueryAlias], o)
        })
    }
    val spliced = splice(parsed)
    val re =
      try org.apache.spark.sql.GraftSqlBridge.ofPlan(spark, spliced)
      catch { case e: Exception => refuse(s"rendered SQL does not re-analyze: ${e.getMessage}") }
    def shape(d: DataFrame) = d.schema.fields.toSeq.map(f => (f.name, f.dataType))
    if (shape(re) != shape(df))
      refuse(s"rendered SQL re-analyzes to a different schema: " +
        s"${re.schema.simpleString} vs ${df.schema.simpleString}")
    // physical-only nodes (repartition, hints) don't exist in SQL — strip
    // them on both sides before the semantic comparison; they change
    // layout, never values
    def strip(p: LogicalPlan): LogicalPlan = {
      // a partition-local sort above a 1-partition repartition/coalesce
      // (Table.sortBounded, round 15) IS a total order — normalize it to a
      // global Sort BEFORE the repartition nodes are stripped below, or
      // the global flag mismatches the rendered ORDER BY. Descend through
      // narrow (partition-count-preserving) Project/Filter nodes the
      // optimizer may interpose.
      def dropOnePart(q: LogicalPlan): Option[LogicalPlan] = q match {
        case OnePartition(child) => Some(child)
        case pr @ Project(_, c) => dropOnePart(c).map(n => pr.copy(child = n))
        case f @ Filter(_, c) => dropOnePart(c).map(n => f.copy(child = n))
        case _ => None
      }
      val pre = p.transformDown {
        case s @ Sort(_, false, child, _) if dropOnePart(child).isDefined =>
          s.copy(global = true, child = dropOnePart(child).get)
      }
      pre.transformUp {
      case Repartition(_, _, child) => child
      case RepartitionByExpression(_, child, _, _) => child
      case ResolvedHint(child, _) => child
      case j: Join if j.hint != JoinHint.NONE => j.copy(hint = JoinHint.NONE)
      // the LATERAL VIEW table alias lands as Generate.qualifier — pure
      // name-resolution scaffolding, semantics-free after analysis
      case g: Generate if g.qualifier.isDefined => g.copy(qualifier = None)
      // limit/offset chains: LocalLimit inside a GlobalLimit/Offset chain
      // is a derived per-partition bound, and `limit(l).offset(o)` vs
      // `LIMIT l-o OFFSET o` optimize to different-but-equivalent
      // orderings — normalize to GlobalLimit-over-Offset with no
      // LocalLimit before comparing
      case GlobalLimit(l, LocalLimit(_, c)) => GlobalLimit(l, c)
      case Offset(o, LocalLimit(_, c)) => Offset(o, c)
      case Offset(limitLit(o), GlobalLimit(limitLit(l), c)) =>
        GlobalLimit(Literal(math.max(l - o, 0L).toInt),
          Offset(Literal(o.toInt), c))
      // a stripped repartition can leave an adjacent Project pair the
      // optimizer had no chance to merge (it ran before the strip) —
      // collapse alias-free outer-over-inner projections so the pair
      // compares equal to the rendered side's single Project
      case Project(outer, Project(inner, c))
          if outer.forall(_.isInstanceOf[AttributeReference]) &&
             outer.forall(a => inner.exists(_.exprId == a.exprId)) =>
        val byId = inner.map(i => i.exprId -> i).toMap
        Project(outer.map(a => byId(a.exprId)), c)
      // …and the mirrored shape: any outer projection over a pure
      // column-pruning inner Project (attrs only) reads straight through
      case Project(outer, Project(inner, c))
          if inner.forall(_.isInstanceOf[AttributeReference]) &&
             outer.flatMap(_.references).forall(r => inner.exists(_.exprId == r.exprId)) =>
        Project(outer, c)
    }
    }
    // rename-only aliases: a decompile-introduced disambiguation suffix
    // (uniquify) survives optimization as Alias(attr, newName) where the
    // source plan has the bare attribute — names are semantics-free after
    // analysis, so both sides normalize by collapsing attribute-renaming
    // aliases and rewiring references before the comparison
    def dealias(p: LogicalPlan): LogicalPlan = {
      val subst = scala.collection.mutable.HashMap[ExprId, AttributeReference]()
      def collect(items: Seq[NamedExpression]): Unit = items.foreach {
        case a @ Alias(ar: AttributeReference, _)
            if a.metadata == org.apache.spark.sql.types.Metadata.empty =>
          subst(a.exprId) = ar
        case _ => ()
      }
      p.foreach {
        case Project(items, _) => collect(items)
        // CTE inlining leaves grouping-key renames INSIDE Aggregate
        // output lists (the ref-site Project collapses into the
        // aggregate) — same normalization: a bare rename is names-only
        case Aggregate(_, items, _, _) => collect(items)
        case _ => ()
      }
      def resolve(ar: AttributeReference): AttributeReference = {
        var cur = ar; var guard = 0
        while (subst.contains(cur.exprId) && guard < 100) {
          cur = subst(cur.exprId); guard += 1
        }
        cur
      }
      def strip(items: Seq[NamedExpression]): Seq[NamedExpression] = items.map {
        case a @ Alias(ar: AttributeReference, _) if subst.contains(a.exprId) =>
          resolve(ar)
        case o => o
      }
      p.transformUp {
        case Project(items, child) => Project(strip(items), child)
        case a @ Aggregate(g, items, child, h) =>
          a.copy(aggregateExpressions = strip(items))
      }.transformAllExpressions {
        case ar: AttributeReference => resolve(ar)
      }
    }
    // CTEs inline at the ANALYZED stage (fresh-exprId copy per
    // reference) and the result re-optimizes — both sides, so an input
    // plan that itself carried a WITH normalizes identically
    def optimizedInlined(d: DataFrame): LogicalPlan = {
      val analyzed = d.queryExecution.analyzed
      // a small Range rendered as VALUES re-analyzes to a LocalRelation,
      // which the optimizer CONSTANT-FOLDS through projections — so the
      // source side must become the same LocalRelation BEFORE its own
      // optimization, or only one side folds and sameResult fails
      val inlined = inlineCtes(analyzed).transformUp {
        case r: org.apache.spark.sql.catalyst.plans.logical.Range
            if r.numElements.isValidLong && r.numElements.toLong <= 1000 =>
          LocalRelation(r.output,
            (0L until r.numElements.toLong).map(i =>
              org.apache.spark.sql.catalyst.InternalRow(r.start + i * r.step)))
      }
      if (inlined eq analyzed) d.queryExecution.optimizedPlan
      else org.apache.spark.sql.GraftSqlBridge.ofPlan(spark, inlined)
        .queryExecution.optimizedPlan
    }
    // optimization EVALUATES foldable expressions — a rendering that
    // analyzed clean can still blow up here (exotic shapes like pivot's
    // synthetic aggregates); any failure is a refusal, never an escape
    val same =
      try dealias(strip(optimizedInlined(df)))
        .sameResult(dealias(strip(optimizedInlined(re))))
      catch { case scala.util.control.NonFatal(e) =>
        refuse(s"rendered SQL fails optimization: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (!same)
      refuse("rendered SQL re-analyzes to a semantically DIFFERENT plan " +
        "(optimized-plan sameResult check failed)")
  }

  /** Inline every CTE in an ANALYZED plan: each [[CTERelationRef]] is
    * replaced by a fresh-exprId copy of its def's child (renamed
    * positionally onto the ref's output attrs), defs resolving left to
    * right so chained CTEs expand fully. Returns the input instance
    * unchanged when the plan carries no CTE nodes. */
  private def inlineCtes(plan: LogicalPlan): LogicalPlan = {
    var found = false
    plan.foreach(p =>
      if (p.isInstanceOf[WithCTE] || p.isInstanceOf[CTERelationRef]) found = true)
    if (!found) return plan
    def go(p: LogicalPlan, defs: Map[Long, LogicalPlan]): LogicalPlan = p match {
      case w: WithCTE =>
        val d2 = w.cteDefs.foldLeft(defs) { (m, d) => m + (d.id -> go(d.child, m)) }
        go(w.plan, d2)
      case r: CTERelationRef =>
        val body = freshCopy(defs.getOrElse(r.cteId,
          refuse("unresolved CTE id during verification")))
        Project(body.output.zip(r.output).map { case (a, o) =>
          Alias(a, o.name)(exprId = o.exprId) }, body)
      case other =>
        val kids = other.children.map(go(_, defs))
        val rebuilt =
          if (kids.zip(other.children).forall { case (a, b) => a eq b }) other
          else other.withNewChildren(kids)
        rebuilt.transformExpressions {
          case se: SubqueryExpression
              if se.plan.exists(q =>
                q.isInstanceOf[WithCTE] || q.isInstanceOf[CTERelationRef]) =>
            se.withNewPlan(go(se.plan, defs))
        }
    }
    go(plan, Map.empty)
  }

  /** A structurally identical copy of a SELF-CONTAINED subplan with every
    * defined exprId replaced by a fresh one: leaf relations re-instance
    * via [[MultiInstanceRelation]], aliases and generator/expand outputs
    * take new ids, references follow. Two inlined copies of one CTE def
    * must not share ids or the enclosing join's canonical form binds both
    * sides' references to the first. */
  private def freshCopy(plan: LogicalPlan): LogicalPlan = {
    val mapping = scala.collection.mutable.HashMap[ExprId, ExprId]()
    def remap(id: ExprId): ExprId =
      mapping.getOrElseUpdate(id, NamedExpression.newExprId)
    // one uniform remap: leaf outputs are constructor params, so
    // transformExpressions rewrites the DEFINING attributes and every
    // reference through the same old→fresh map — alignment by
    // construction (a separate newInstance() pass would mint leaf ids
    // the reference remap can't see)
    plan.transformUp {
      case p => p.transformExpressions {
        case a: Alias =>
          Alias(a.child, a.name)(remap(a.exprId), a.qualifier, a.explicitMetadata,
            a.nonInheritableMetadataKeys)
        case ar: AttributeReference => ar.withExprId(remap(ar.exprId))
      }
    }
  }

  // ----------------------------------------------------------- decompile

  /** Per-decompile state: the fresh-alias counter and the relation-name →
    * original-leaf-plan map the verifier splices back. */
  private final class Run {
    private var n = -1
    private var w = -1
    private var c = -1
    private var k = -1
    def freshAlias(): String = { n += 1; s"t$n" }
    def freshWin(): String = { w += 1; s"__graft_pw${w}__" }
    def freshCol(base: String): String = { c += 1; s"${base}__g$c" }
    def freshCte(): String = { k += 1; s"graft_cte_$k" }
    val rels = scala.collection.mutable.LinkedHashMap[String, LogicalPlan]()
    /** CTE bodies in WITH-clause order (extraction markers first in
      * dependency order, then input-plan WithCTE defs as encountered). */
    val cteBodies = scala.collection.mutable.ArrayBuffer[(String, SqlOp)]()
    /** Input-plan CTERelationDef id → (rendered name, column names). */
    val cteById = scala.collection.mutable.HashMap[Long, (String, Seq[String])]()
    /** Did this run lift any repeated subtree into a CTE? (Gates the
      * retry-without-extraction fallback.) */
    var ctesAttempted = false
    /** Scope visible to OuterReference inside the subquery currently
      * being rendered: the union of every enclosing query block's env
      * (exprIds are globally unique, so a flat merge cannot mis-bind).
      * Saved/restored around each nested rendering in [[subquerySql]]. */
    var outerScope: Env = Map.empty
  }

  /** Marker leaf spliced over every occurrence of an extracted repeated
    * subplan: carries the CTE's name, its rendered column names (the
    * representative occurrence's), and THIS occurrence's output attrs so
    * the scope maps each exprId positionally onto the CTE columns. The
    * original canon rides outside the case-class shape so markers of one
    * CTE canonical-compare equal across occurrences. */
  private final case class CteRefLeaf(name: String, cols: Seq[String],
      refOutput: Seq[Attribute]) extends LeafNode {
    override def output: Seq[Attribute] = refOutput
  }

  /** Rendered (name, sql, exprId) items with duplicate names resolved:
    * at the ROOT (user-visible output) duplicates refuse; in an
    * intermediate projection the 2nd+ occurrence takes a fresh suffix —
    * every reference binds by exprId, so renaming is invisible. */
  private def uniquify(items: Seq[(String, String, ExprId)], root: Boolean,
      what: String)(implicit run: Run): Seq[(String, String, ExprId)] = {
    val seen = scala.collection.mutable.Set[String]()
    items.map { case (n, e, id) =>
      if (seen.add(n)) (n, e, id)
      else if (root)
        refuse(s"duplicate $what output name '$n' in the final projection " +
          "cannot be rendered")
      else { val n2 = run.freshCol(n); seen.add(n2); (n2, e, id) }
    }
  }

  private type Env = Map[ExprId, Seq[String]]

  private def decTop(plan: LogicalPlan, extractCtes: Boolean)(
      implicit run: Run): SqlOp = {
    val (main, bodies) =
      if (extractCtes) selectAndMark(plan) else (plan, Nil)
    if (bodies.nonEmpty) run.ctesAttempted = true
    // decompile the lifted bodies first (dependency order) so marker
    // references inside the main tree AND inside later bodies resolve
    bodies.foreach { case (name, body) =>
      val (op, env) = dec(body, root = true)
      run.cteBodies += name -> materialize(op, body.output, env)._1
    }
    val (op, env) = dec(main, root = true)
    val mainOp = materialize(op, main.output, env)._1
    if (run.cteBodies.isEmpty) mainOp
    else {
      // a CTE name shadowing a real relation would silently re-bind the
      // relation's references — structurally unreturnable, like the rest
      val names = run.cteBodies.map(_._1.toLowerCase).toSet
      if (run.rels.keys.exists(r => names(r.toLowerCase)))
        refuse("a CTE name collides with a referenced relation name")
      SqlWith(mainOp, run.cteBodies.toList)
    }
  }

  // --------------------------------------------------------- CTE lifting

  /** The reference's extract_ctes pass (ibis/backends/sql/rewrites.py:
    * 335-347, visible in every golden snapshot under
    * ibis/backends/tests/sql/snapshots/): find DETERMINISTIC subplans
    * whose canonicalized form occurs more than once, lift each into a
    * named CTE, and splice a [[CteRefLeaf]] over every occurrence.
    * Greedy largest-first so a repeated outer plan lifts whole, with its
    * own inner repeats lifted from the single remaining body on later
    * passes. Returns the marked main tree plus (name, body) pairs in
    * dependency order (a body only references CTEs listed before it). */
  private def selectAndMark(plan: LogicalPlan)(
      implicit run: Run): (LogicalPlan, Seq[(String, LogicalPlan)]) = {
    def eligible(p: LogicalPlan): Boolean = p match {
      case _: LeafNode | _: LocalRelation |
          _: org.apache.spark.sql.catalyst.plans.logical.Range => false
      // views render as named references — nothing to lift
      case _: View => false
      // analyzer-internal scaffolding that dec() consumes as part of its
      // parent's pattern — lifting it would break the pattern, refuse,
      // and force the no-CTE retry for nothing
      case _: Expand | _: LocalLimit => false
      // CANONICALLY TRANSPARENT wrappers (their canonicalized form IS the
      // child's): counting them would pair a node with its own wrapped
      // self and loop; the underlying node is counted on its own
      case _: SubqueryAlias | _: ResolvedHint => false
      case p =>
        p.deterministic &&
          // input-plan CTE machinery is handled by its own dec cases; a
          // lifted body containing a CTERelationRef would decompile
          // before the referenced def registers
          !p.exists(q => q.isInstanceOf[WithCTE] || q.isInstanceOf[CTERelationRef]) &&
          !p.expressions.exists(_.exists(_.isInstanceOf[SubqueryExpression]))
    }
    def size(p: LogicalPlan): Int = { var s = 0; p.foreach(_ => s += 1); s }

    // forest(0) = main tree; forest(i + 1) = body of the i-th chosen CTE.
    // Later passes keep marking ALL entries, so earlier bodies pick up
    // markers for later (smaller, contained) CTEs.
    var forest = Vector(plan)
    val names = scala.collection.mutable.ArrayBuffer[String]()
    var go = true
    while (go && names.size < 16) {
      val groups = scala.collection.mutable.LinkedHashMap[
        LogicalPlan, scala.collection.mutable.ArrayBuffer[LogicalPlan]]()
      // never descend into a View — it renders as a name, its stored
      // plan is invisible to the output (and must never carry markers)
      def walk(p: LogicalPlan): Unit = p match {
        case _: View => ()
        case _ =>
          if (eligible(p))
            groups.getOrElseUpdate(p.canonicalized,
              new scala.collection.mutable.ArrayBuffer) += p
          p.children.foreach(walk)
      }
      forest.foreach(walk)
      val repeated = groups.iterator.filter(_._2.size > 1).toSeq
      if (repeated.isEmpty) go = false
      else {
        val (canon, occs) = repeated.maxBy { case (c, _) => size(c) }
        val rep = occs.head
        val name = run.freshCte()
        names += name
        val cols = rep.output.map(_.name)
        def mark(t: LogicalPlan): LogicalPlan = t match {
          case v: View => v
          // transparent wrappers canonical-compare equal to their child —
          // keep the wrapper, mark beneath it
          case sa: SubqueryAlias => sa.mapChildren(mark)
          case h: ResolvedHint => h.mapChildren(mark)
          case p if p.canonicalized == canon => CteRefLeaf(name, cols, p.output)
          case p => p.mapChildren(mark)
        }
        def markChildren(t: LogicalPlan): LogicalPlan = t.mapChildren(mark)
        forest = forest.zipWithIndex.map { case (t, i) =>
          if (i > 0) markChildren(t) // a body must never mark its own root
          else mark(t)
        } :+ rep
      }
    }
    if (names.isEmpty) (plan, Nil)
    else {
      // WITH order: definition before use — topo-sort by marker refs
      // (containment is acyclic, so this always completes)
      val bodies = names.zip(forest.drop(1)).toIndexedSeq
      val deps: Map[String, Set[String]] = bodies.map { case (n, b) =>
        n -> b.collect { case m: CteRefLeaf => m.name }.toSet
      }.toMap
      val ordered = scala.collection.mutable.ArrayBuffer[(String, LogicalPlan)]()
      val placed = scala.collection.mutable.Set[String]()
      var remaining = bodies
      while (remaining.nonEmpty) {
        val (ready, later) = remaining.partition { case (n, _) =>
          deps(n).forall(placed)
        }
        if (ready.isEmpty) refuse("cyclic CTE dependency (internal)")
        ready.foreach { case (n, b) => ordered += n -> b; placed += n }
        remaining = later
      }
      (forest.head, ordered.toSeq)
    }
  }

  /** Bottom-up decompile: each subtree returns its op plus the scope
    * mapping every visible attribute's exprId to the name parts that
    * reference it in the rendered SQL at that point. `root` marks the
    * chain whose output names are USER-VISIBLE (propagated through
    * name-preserving nodes): duplicate names there refuse, while an
    * INTERMEDIATE projection's duplicates (self-join column fan-in)
    * uniquify with a fresh suffix — invisible in the final output, and
    * references bind by exprId so nothing can mis-resolve. */
  private def dec(plan: LogicalPlan, root: Boolean = false)(
      implicit run: Run): (SqlOp, Env) = plan match {
    case SubqueryAlias(_, child) =>
      // user/catalog aliases are cosmetic here — scoping is by exprId and
      // every leaf gets its own fresh alias
      dec(child, root)

    case ResolvedHint(child, _) =>
      // join-strategy hints (broadcast(...)) don't change semantics and
      // SQL text can't carry them — render the plan beneath (the
      // faithfulness gate strips hints on both sides before comparing)
      dec(child, root)

    case lr: LocalRelation =>
      // memtable → inline VALUES (the reference's to_sql inlines
      // memtables too); typed literal cells keep the source types on
      // re-parse. Bounded: inlining a big frame as SQL text is a
      // pathology, not a rendering.
      if (lr.data.isEmpty) refuse("an empty memtable has no VALUES form")
      if (lr.data.size > 1000)
        refuse(s"memtable with ${lr.data.size} rows is too large to inline as VALUES")
      requireDistinct(lr.output.map(_.name), "memtable column names")
      val rows = lr.data.map { ir =>
        lr.output.zipWithIndex.map { case (a, i) =>
          val s = Literal(ir.get(i, a.dataType), a.dataType).sql
          if (!SqlDecompile.rendersBack(s))
            refuse(s"memtable cell of type ${a.dataType.simpleString} has no literal SQL form")
          s
        }
      }
      val alias = run.freshAlias()
      (SqlAlias(SqlValues(lr.output.map(_.name), rows), alias),
        lr.output.map(a => a.exprId -> Seq(alias, a.name)).toMap)

    case r: org.apache.spark.sql.catalyst.plans.logical.Range =>
      // spark.range(...) — a literal integer sequence; small ones inline
      // as typed VALUES (both dialects), the same bound as memtables
      val n = r.numElements
      if (n.isValidLong && n.toLong >= 1 && n.toLong <= 1000) {
        val rows = (0L until n.toLong).map(i =>
          Seq(Literal(r.start + i * r.step, org.apache.spark.sql.types.LongType).sql))
        val alias = run.freshAlias()
        val name = r.output.head.name
        (SqlAlias(SqlValues(Seq(name), rows), alias),
          Map(r.output.head.exprId -> Seq(alias, name)))
      } else refuse(s"range of ${r.numElements} rows is too large to inline as VALUES")

    case m: CteRefLeaf =>
      // one occurrence of an extracted repeated subplan: reference the
      // CTE by name under a fresh alias; positional column mapping (the
      // occurrence's names may differ — canonical equality ignores names)
      val alias = run.freshAlias()
      val rel = SqlRelation(m.name)
      rel.nameParts = Seq(m.name)
      (SqlAlias(rel, alias),
        m.refOutput.zip(m.cols).map { case (a, c) => a.exprId -> Seq(alias, c) }.toMap)

    case w: WithCTE =>
      // an input plan that ALREADY carries CTEs (Table.sql / spark.sql
      // with WITH): decompile each def once, in order (later defs may
      // reference earlier ones), and walk the main plan
      w.cteDefs.foreach { d =>
        if (!run.cteById.contains(d.id)) {
          val name = run.freshCte()
          val (op, env) = dec(d.child, root = true)
          run.cteBodies += name -> materialize(op, d.child.output, env)._1
          run.cteById(d.id) = (name, d.child.output.map(_.name))
        }
      }
      dec(w.plan, root)

    case r: CTERelationRef =>
      val (name, cols) = run.cteById.getOrElse(r.cteId,
        refuse("CTE reference outside its WITH scope"))
      val alias = run.freshAlias()
      val rel = SqlRelation(name)
      rel.nameParts = Seq(name)
      (SqlAlias(rel, alias),
        r.output.zip(cols).map { case (a, c) => a.exprId -> Seq(alias, c) }.toMap)

    case leaf @ (_: LeafNode | _: View) =>
      // View is unary (its child is the stored plan) but renders as a
      // catalog reference by name, exactly like a leaf relation
      val name = leafName(leaf).getOrElse(
        refuse(s"unsupported leaf relation ${leaf.getClass.getSimpleName}"))
      run.rels.get(name) match {
        case Some(prev) if prev.canonicalized != leaf.canonicalized =>
          refuse(s"two different relations would both render as '$name'")
        case None => run.rels(name) = leaf
        case _ => ()
      }
      val alias = run.freshAlias()
      val rel = SqlRelation(name)
      rel.nameParts = Seq(name)
      (SqlAlias(rel, alias), leaf.output.map(a => a.exprId -> Seq(alias, a.name)).toMap)

    case p @ Project(list, child) =>
      // a window child goes behind its pass-through projection so this
      // project's expressions land ABOVE the Window node on re-analysis —
      // mirroring the analyzer's own shape (arithmetic over window
      // columns lives in the project above the Window); the optimizer
      // collapses the adjacent projects identically on both sides
      val (in0, env0) = dec(child)
      val (in, env) = materialize(in0, child.output, env0)
      // the analyzer's window extraction can list the same attribute
      // twice in its helper projection — identical repeats collapse
      // (same exprId, same name: one rendered column serves every ref)
      val deduped = list.foldLeft(Vector.empty[NamedExpression]) { (acc, ne) =>
        ne match {
          case ar: AttributeReference
              if acc.exists { case p: AttributeReference => p.exprId == ar.exprId
                case _ => false } => acc
          case other => acc :+ other
        }
      }
      val rendered = deduped.map {
        case a: Alias => (a.name, rex(a.child, env), a.exprId)
        case ar: AttributeReference => (ar.name, rex(ar, env), ar.exprId)
        case o => refuse(s"project item ${o.getClass.getSimpleName}")
      }
      val items = uniquify(rendered, root, "project")
      (SqlProject(in, items.map(t => (t._1, t._2))),
        items.map(t => t._3 -> Seq(t._1)).toMap)

    case Filter(cond, child) =>
      val (in0, env0) = dec(child, root)
      val (in, env) = materialize(in0, child.output, env0)
      (SqlFilter(in, rex(cond, env)), env)

    case a @ Aggregate(grouping, aggExprs, ex: Expand, _)
        if grouping.lastOption.exists {
          case ar: AttributeReference => ar.name == "spark_grouping_id"
          case _ => false
        } =>
      // rollup/cube/groupingSets: the analyzer's shape is
      //   Aggregate(keys' :+ spark_grouping_id,
      //     Expand(rows = [childCols…, keyOrNull…, gidLiteral],
      //       Project(childCols ++ keyAliases, base)))
      // — recover the key expressions from the helper projection's
      // aliases, the per-set inclusion from each Expand row's null mask,
      // and render GROUP BY GROUPING SETS (…); grouping()/grouping_id()
      // in the aggregates reference spark_grouping_id, which maps back to
      // the grouping_id() call the analyzer re-expands identically
      val gidAttr = grouping.last.asInstanceOf[AttributeReference]
      val k = grouping.size - 1
      if (k < 1) refuse("grouping sets without keys")
      val proj = ex.child match {
        case p: Project => p
        case o => refuse(s"grouping sets over ${o.getClass.getSimpleName}")
      }
      if (proj.projectList.size < k) refuse("grouping-sets helper projection too narrow")
      val aliases = proj.projectList.takeRight(k).map {
        case al: Alias => al
        case o => refuse(s"grouping-sets helper item ${o.getClass.getSimpleName}")
      }
      val (cin0, cenv0) = dec(proj.child)
      val (in, cenv) = materialize(cin0, proj.child.output, cenv0)
      val keyTexts = aliases.map(al => rex(al.child, cenv))
      val outTail = ex.output.takeRight(k + 1)
      val outKeyAttrs = outTail.init
      val groupKeyIds = grouping.init.map {
        case ar: AttributeReference => ar.exprId
        case o => refuse(s"grouping-sets key ${o.getClass.getSimpleName}")
      }
      if (groupKeyIds.toSet != outKeyAttrs.map(_.exprId).toSet)
        refuse("grouping-sets key attributes do not line up with the Expand output")
      val raw = outKeyAttrs.map(_.exprId).zip(keyTexts).toMap +
        (gidAttr.exprId -> "grouping_id()")
      val base = ex.output.size - (k + 1)
      val sets = ex.projections.map { row =>
        if (row.size != ex.output.size) refuse("malformed Expand projection row")
        keyTexts.zip(row.slice(base, base + k)).collect {
          case (t, e) if !(e.isInstanceOf[Literal] &&
            e.asInstanceOf[Literal].value == null) => t
        }
      }
      val rendered = aggExprs.map {
        case al: Alias => (al.name, rex(al.child, cenv, raw), al.exprId)
        case ar: AttributeReference => (ar.name, rex(ar, cenv, raw), ar.exprId)
        case o => refuse(s"grouping-sets aggregate item ${o.getClass.getSimpleName}")
      }
      val itemsU = uniquify(rendered, root, "grouping-sets")
      (SqlGroupingSets(in, keyTexts, sets, itemsU.map(t => (t._1, t._2))),
        itemsU.map(t => t._3 -> Seq(t._1)).toMap)

    case a @ Aggregate(grouping, aggExprs, child, _) =>
      val (in0, env0) = dec(child)
      val (in, env) = materialize(in0, child.output, env0)
      val keys = grouping.map(g => rex(g, env))
      val rendered = aggExprs.map {
        case al: Alias => (al.name, rex(al.child, env), al.exprId)
        case ar: AttributeReference => (ar.name, rex(ar, env), ar.exprId)
        case o => refuse(s"aggregate item ${o.getClass.getSimpleName}")
      }
      val aggs = uniquify(rendered, root, "aggregate")
      (SqlAggregate(in, keys, aggs.map(t => (t._1, t._2))),
        aggs.map(t => t._3 -> Seq(t._1)).toMap)

    case s @ Sort(order, true, child, _) =>
      val (in0, env0) = dec(child, root)
      val (in, env) = materialize(in0, child.output, env0)
      val keys = order.map { case SortOrder(e, dir, nulls, _) =>
        (rex(e, env), dir == Ascending, nulls == NullsFirst)
      }
      (SqlSort(in, keys), env)

    // sortWithinPartitions over a 1-partition repartition/coalesce (the
    // Table.sortBounded shape, round 15): with a single partition the
    // local sort IS a total order — render the pair as ORDER BY.
    case Sort(order, false, OnePartition(child), _) =>
      val (in0, env0) = dec(child, root)
      val (in, env) = materialize(in0, child.output, env0)
      val keys = order.map { case SortOrder(e, dir, nulls, _) =>
        (rex(e, env), dir == Ascending, nulls == NullsFirst)
      }
      (SqlSort(in, keys), env)

    // a bare 1-partition repartition/coalesce is layout-only — SQL has no
    // spelling for it and needs none; values are unchanged
    case OnePartition(child) => dec(child, root)

    case GlobalLimit(limitLit(n), LocalLimit(_, child)) =>
      val (in0, env0) = dec(child, root)
      val (in, env) = materialize(in0, child.output, env0)
      in match {
        case SqlLimit(i, None, off) => (SqlLimit(i, Some(n), off), env)
        case _ => (SqlLimit(in, Some(n), None), env)
      }

    case Offset(limitLit(o), child) =>
      val (in0, env0) = dec(child, root)
      val (in, env) = materialize(in0, child.output, env0)
      in match {
        // LIMIT l already applied below: skipping o of those l rows is
        // LIMIT max(l-o,0) OFFSET (priorOffset + o) in SQL clause order
        // (OFFSET applies before LIMIT)
        case SqlLimit(i, Some(l), prior) =>
          (SqlLimit(i, Some(math.max(l - o, 0L)), Some(prior.getOrElse(0L) + o)), env)
        case SqlLimit(i, None, Some(p)) => (SqlLimit(i, None, Some(p + o)), env)
        case _ => (SqlLimit(in, None, Some(o)), env)
      }

    case d @ Deduplicate(keys, child) =>
      val (in0, env0) = dec(child, root)
      val (in, env) = materialize(in0, child.output, env0)
      if (keys.map(_.exprId).toSet != d.output.map(_.exprId).toSet)
        refuse("dropDuplicates on a key subset has no plain-SQL DISTINCT form")
      (SqlDistinct(in), env)

    case Distinct(child) =>
      val (in0, env0) = dec(child, root)
      val (in, env) = materialize(in0, child.output, env0)
      (SqlDistinct(in), env)

    case u @ Union(children, false, false) =>
      val ops = children.map { c =>
        val (o, e) = dec(c); materialize(o, c.output, e)._1
      }
      requireDistinct(u.output.map(_.name), "union output names")
      (ops.reduceLeft(SqlSetOp(_, _, "union", true)), outEnv(u.output))

    case i @ Intersect(l, r, isAll) =>
      val lo = { val (o, e) = dec(l); materialize(o, l.output, e)._1 }
      val ro = { val (o, e) = dec(r); materialize(o, r.output, e)._1 }
      requireDistinct(i.output.map(_.name), "intersect output names")
      (SqlSetOp(lo, ro, "intersect", isAll), outEnv(i.output))

    case x @ Except(l, r, isAll) =>
      val lo = { val (o, e) = dec(l); materialize(o, l.output, e)._1 }
      val ro = { val (o, e) = dec(r); materialize(o, r.output, e)._1 }
      requireDistinct(x.output.map(_.name), "except output names")
      (SqlSetOp(lo, ro, "except", isAll), outEnv(x.output))

    case Join(l, r, joinType, cond, _) =>
      val how = joinType match {
        case Inner => if (cond.isEmpty) "cross" else "inner"
        case LeftOuter => "left"
        case RightOuter => "right"
        case FullOuter => "outer"
        case LeftSemi => "semi"
        case LeftAnti => "anti"
        case Cross => "cross"
        case other => refuse(s"join type ${other.sql}")
      }
      if ((how == "semi" || how == "anti") && cond.isEmpty)
        refuse("semi/anti join without a condition")
      val (lop, lenv) = joinSide(l)
      val (rop, renv) = joinSide(r)
      val env = lenv ++ renv
      (SqlJoin(lop, rop, how, cond.map(rex(_, env))), env)

    case g @ Generate(gen, _, outer, _, genOutput, child) =>
      val (in0, env0) = dec(child)
      val (in, env) = materialize(in0, child.output, env0)
      val func = rex(gen, env)
      // only explode/posexplode have an OUTER function form for rebuild
      // and only a plain explode has a duckdb spelling — record the bare
      // argument when the generator is one
      val explodeArg = gen match {
        case Explode(e) if !outer => Some(rex(e, env))
        case _ => None
      }
      requireDistinct(genOutput.map(_.name), "generator output names")
      val alias = run.freshAlias()
      val env2 = env ++ genOutput.map(a => a.exprId -> Seq(alias, a.name))
      (SqlGenerate(in, func, genOutput.map(_.name), alias, outer, explodeArg), env2)

    case w @ Window(winExprs, _, _, child, _) =>
      val (in0, env0) = dec(child)
      val (in, env) = materialize(in0, child.output, env0)
      val defs = winExprs.map {
        case Alias(we: WindowExpression, _) => windowDef(we, env)
        case o => refuse(s"window item ${o.getClass.getSimpleName}")
      }
      val env2 = env ++ winExprs.zip(defs).map { case (a, d) =>
        a.exprId -> Seq(d.name)
      }
      (SqlWindow(in, defs), env2)

    case other => refuse(s"plan node ${other.getClass.getSimpleName}")
  }

  /** A join side must expose alias-qualified names into the shared FROM
    * scope: leaf aliases and nested joins already do; anything derived
    * wraps under a fresh alias (rendered as `(SELECT …) AS tN`). */
  private def joinSide(plan: LogicalPlan)(implicit run: Run): (SqlOp, Env) = {
    val (op0, env0) = dec(plan)
    val (op, env) = materialize(op0, plan.output, env0)
    op match {
      case SqlAlias(_: SqlRelation, _) | _: SqlJoin => (op, env)
      case derived =>
        requireDistinct(plan.output.map(_.name), "derived join-side output names")
        val a = run.freshAlias()
        (SqlAlias(derived, a), plan.output.map(at => at.exprId -> Seq(a, at.name)).toMap)
    }
  }

  /** A bare [[SqlWindow]] is only legal directly under a [[SqlProject]];
    * any other consumer gets an explicit pass-through projection over the
    * window node's full output (the analyzed Window node's contract:
    * child output ++ window columns). */
  private def materialize(op: SqlOp, outs: Seq[Attribute], env: Env)(
      implicit run: Run): (SqlOp, Env) = op match {
    case w: SqlWindow =>
      requireDistinct(outs.map(_.name), "window output names")
      val items = outs.map { a =>
        val parts = env.getOrElse(a.exprId, refuse(s"window output ${a.name} not in scope"))
        (a.name, SqlExprCol(parts).render)
      }
      (SqlProject(w, items), outEnv(outs))
    case _ => (op, env)
  }

  private def outEnv(outs: Seq[Attribute]): Env = {
    requireDistinct(outs.map(_.name), "output names")
    outs.map(a => a.exprId -> Seq(a.name)).toMap
  }

  private def requireDistinct(names: Seq[String], what: String): Unit = {
    val dup = names.diff(names.distinct).distinct
    if (dup.nonEmpty)
      refuse(s"duplicate $what (${dup.mkString(", ")}) cannot be referenced unambiguously")
  }

  private object limitLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Int, _) => Some(v.toLong)
      case Literal(v: Long, _) => Some(v)
      case _ => None
    }
  }

  /** Matches a repartition/coalesce down to EXACTLY ONE partition —
    * layout-only in SQL terms, and the context that makes a partition-
    * local sort a total order (Table.sortBounded, round 15). */
  private object OnePartition {
    def unapply(p: LogicalPlan): Option[LogicalPlan] = p match {
      case Repartition(1, _, child) => Some(child)
      case r: RepartitionByExpression if r.optNumPartitions.contains(1) =>
        Some(r.child)
      case _ => None
    }
  }

  // ---------------------------------------------------------- expressions

  /** Placeholder whose `.sql` is the alias-qualified reference — spliced
    * over every [[AttributeReference]] so catalyst's own SQL generation
    * renders the rest of the (resolved) expression around it. */
  private final case class QualifiedRef(parts: Seq[String]) extends LeafExpression
      with Unevaluable {
    override def dataType: DataType = NullType
    override def nullable: Boolean = true
    override def sql: String = parts.map(SqlDecompile.quoteIdent(_)).mkString(".")
  }

  /** Pre-rendered SQL fragment leaf (lambda bodies). */
  private final case class RawSql(text: String) extends LeafExpression with Unevaluable {
    override def dataType: DataType = NullType
    override def nullable: Boolean = true
    override def sql: String = text
  }

  /** Render a RESOLVED expression to SQL text in the given scope: splice
    * qualified references over attributes, let catalyst `.sql` print the
    * tree, and demand the text re-parses. Faithfulness beyond parseability
    * (a `.sql` that parses but means something else) is what the
    * whole-query [[verify]] gate exists for. */
  private def rex(e: Expression, env: Env,
      raw: Map[ExprId, String] = Map.empty)(implicit run: Run): String = {
    if (e.exists(_.isInstanceOf[WindowExpression]))
      refuse("window expression outside a Window node")
    // Subqueries (round 12): the nested plan decompiles through the same
    // run (shared relation splice + alias counter) and embeds as a
    // parenthesized SELECT. CORRELATED forms render too — the analyzer
    // wraps each outer column in [[OuterReference]], which resolves
    // against the env at THIS rex call site (pushed onto the run's outer
    // scope for the nested rendering); an outer name that would re-bind
    // differently inside the subquery block is caught by the whole-query
    // faithfulness gate, so a mis-scoped rendering refuses rather than
    // ships. A TOP-DOWN pre-pass — bottom-up would reach the inner
    // ListQuery before the InSubquery that gives it meaning.
    val pre =
      try e.transformDown {
        case sq: ScalarSubquery =>
          if (sq.joinCond.nonEmpty) refuse("scalar subquery with a pre-planned join condition")
          RawSql(s"(${subquerySql(sq.plan, env)})")
        case ex: Exists =>
          if (ex.joinCond.nonEmpty) refuse("EXISTS subquery with a pre-planned join condition")
          RawSql(s"exists (${subquerySql(ex.plan, env)})")
        case in: InSubquery =>
          in.query match {
            case lq: ListQuery if lq.joinCond.nonEmpty =>
              refuse("IN subquery with a pre-planned join condition")
            case lq: ListQuery if in.values.size == 1 =>
              RawSql(s"(${rex(in.values.head, env, raw)} IN (${subquerySql(lq.plan, env)}))")
            case _ => refuse("multi-value IN subquery")
          }
        case other: SubqueryExpression =>
          refuse(s"subquery expression ${other.getClass.getSimpleName}")
      }
      catch {
        case r: Refused => throw r
        case ex: Throwable =>
          refuse(s"subquery substitution failed: ${ex.getClass.getSimpleName}")
      }
    // the substitution itself can throw: some expression constructors
    // (pivot's synthetic aggregates) evaluate their children on copy —
    // those shapes refuse, same as a failed .sql
    val s =
      try pre.transformUp {
        // raw overrides (grouping-sets keys, grouping_id()) come first
        case ar: AttributeReference if raw.contains(ar.exprId) =>
          RawSql(raw(ar.exprId))
        // a correlated column inside a subquery: OuterReference is a LEAF
        // (the wrapped attribute is a constructor param, not a child), so
        // it resolves here against the enclosing blocks' merged scope
        case OuterReference(ar: AttributeReference) =>
          QualifiedRef(run.outerScope.getOrElse(ar.exprId,
            refuse(s"outer reference ${ar.name}#${ar.exprId.id} is not in any enclosing scope")))
        case OuterReference(o) =>
          refuse(s"outer reference to ${o.getClass.getSimpleName}")
        case ar: AttributeReference =>
          QualifiedRef(env.getOrElse(ar.exprId,
            refuse(s"column ${ar.name}#${ar.exprId.id} is not in scope")))
        // catalyst's .sql mangles lambdas into the unresolvable pseudo-call
        // lambdafunction(namedlambdavariable()…) — render `x -> body`
        // (inner lambdas and captured columns are already substituted:
        // transformUp is bottom-up)
        case lf: LambdaFunction =>
          val names = lf.arguments.map {
            case v: NamedLambdaVariable => v.name
            case o => refuse(s"lambda argument ${o.getClass.getSimpleName}")
          }
          val body = lf.function.transformUp {
            case v: NamedLambdaVariable => RawSql(SqlDecompile.quoteIdent(v.name))
          }
          val lhs =
            if (names.size == 1) SqlDecompile.quoteIdent(names.head)
            else names.map(SqlDecompile.quoteIdent(_)).mkString("(", ", ", ")")
          RawSql(s"$lhs -> ${body.sql}")
      }.sql
      catch {
        case r: Refused => throw r
        case ex: Throwable => refuse(s"no SQL text for: ${e.getClass.getSimpleName} (${ex.getClass.getSimpleName})")
      }
    if (!SqlDecompile.rendersBack(s))
      refuse(s"generated text does not re-parse: $s")
    s
  }

  /** Render a subquery's plan as standalone SQL text, through the SAME
    * run — its relations join the splice map and its aliases stay
    * globally unique (and any CTEs it registers land in the enclosing
    * WITH, which scopes over subqueries). `outer` — the env in effect at
    * the subquery expression's call site — is pushed onto the run's
    * outer scope for the nested rendering, so correlated
    * [[OuterReference]]s inside the plan resolve to the enclosing
    * block's alias-qualified names (subqueries nest: the merged scope
    * accumulates, and is restored on exit). */
  private def subquerySql(plan: LogicalPlan, outer: Env)(implicit run: Run): String = {
    val saved = run.outerScope
    run.outerScope = saved ++ outer
    try {
      val (op, env) = dec(plan)
      SqlDecompile.renderSql(materialize(op, plan.output, env)._1, "spark")
    } finally run.outerScope = saved
  }

  /** One analyzed window expression → [[SqlWindowDef]]. Ranking and
    * offset functions render their canonical zero/explicit-arg SQL forms
    * (their analyzed trees carry internal children `.sql` would leak) and
    * drop the implied frame; aggregate windows keep the analyzer's
    * explicit frame when its bounds are literal. */
  private def windowDef(we: WindowExpression, env: Env)(implicit run: Run): SqlWindowDef = {
    val spec = we.windowSpec match {
      case s: WindowSpecDefinition => s
      case o => refuse(s"window spec ${o.getClass.getSimpleName}")
    }
    def bound(e: Expression): Long = e match {
      case UnboundedPreceding => Long.MinValue
      case UnboundedFollowing => Long.MaxValue
      case CurrentRow => 0L
      case Literal(v: Int, _) => v.toLong
      case Literal(v: Long, _) => v
      case UnaryMinus(Literal(v: Int, _), _) => -v.toLong
      case UnaryMinus(Literal(v: Long, _), _) => -v
      case o => refuse(s"non-literal window frame bound ${o.getClass.getSimpleName}")
    }
    def offsetOf(): Long = spec.frameSpecification match {
      case SpecifiedWindowFrame(RowFrame, lo, hi) if bound(lo) == bound(hi) => bound(lo)
      case o => refuse(s"offset window function with frame $o")
    }
    val (funcSql, frame): (String, Option[(String, Long, Long)]) = we.windowFunction match {
      case _: RowNumber => ("row_number()", None)
      case _: Rank => ("rank()", None)
      case _: DenseRank => ("dense_rank()", None)
      case _: PercentRank => ("percent_rank()", None)
      case _: CumeDist => ("cume_dist()", None)
      case nt: NTile => (s"ntile(${rex(nt.buckets, env)})", None)
      case Lag(in, _, dflt, ignoreNulls) =>
        if (ignoreNulls) refuse("lag(... ignoreNulls) has no portable SQL form here")
        val k = -offsetOf()
        val d = dflt match { case Literal(null, _) => ""; case o => s", ${rex(o, env)}" }
        (s"lag(${rex(in, env)}, $k$d)", None)
      case Lead(in, _, dflt, ignoreNulls) =>
        if (ignoreNulls) refuse("lead(... ignoreNulls) has no portable SQL form here")
        val k = offsetOf()
        val d = dflt match { case Literal(null, _) => ""; case o => s", ${rex(o, env)}" }
        (s"lead(${rex(in, env)}, $k$d)", None)
      case NthValue(in, off, ignoreNulls) =>
        if (ignoreNulls) refuse("nth_value(... ignoreNulls) has no portable SQL form here")
        (s"nth_value(${rex(in, env)}, ${rex(off, env)})", None)
      case ae: AggregateExpression =>
        val f = spec.frameSpecification match {
          case SpecifiedWindowFrame(ft, lo, hi) =>
            val t = ft match { case RowFrame => "rows"; case RangeFrame => "range" }
            Some((t, bound(lo), bound(hi)))
          case UnspecifiedFrame => None
          case o => refuse(s"window frame ${o.getClass.getSimpleName}")
        }
        (rex(ae, env), f)
      case o => refuse(s"window function ${o.getClass.getSimpleName}")
    }
    val parts = spec.partitionSpec.map(rex(_, env))
    val orders = spec.orderSpec.map { case SortOrder(e, dir, nulls, _) =>
      (rex(e, env), dir == Ascending, nulls == NullsFirst)
    }
    SqlWindowDef(run.freshWin(), funcSql, parts, orders, frame)
  }

  // -------------------------------------------------------------- leaves

  /** The SQL-referenceable name of a leaf relation: catalog identifier
    * when there is one, else the single root path's basename with its
    * format extension stripped (`…/lineitem.parquet` → `lineitem` — the
    * name the engine's own test oracle registers). */
  private def leafName(p: LogicalPlan): Option[String] = p match {
    case lr: LogicalRelation =>
      lr.catalogTable.map(_.identifier.table).orElse(lr.relation match {
        case hfs: HadoopFsRelation =>
          val roots = hfs.location.rootPaths
          if (roots.size != 1) None
          else {
            val base = roots.head.getName
            val dot = base.lastIndexOf('.')
            Some(if (dot > 0) base.substring(0, dot) else base)
          }
        case _ => None
      })
    case v: View => Some(v.desc.identifier.table)
    case d: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      Option(d.table).map(_.name()).filter(_.nonEmpty)
    case _ => None
  }
}
