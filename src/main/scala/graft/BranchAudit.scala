package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.graftbridge.ColumnBridge
import java.nio.file.{Files, Paths}
import Diag.jsonString

/** MECHANICAL BRANCH-LIVENESS AUDIT (VERDICT r13 item 9): the w16 slip
  * — a `coalesce(new_users, 0)` gap arm that never fired at any fixture
  * SF because the spine bounds made it structurally vacuous — survived
  * the manual per-entry audit AND the hash gate (the oracle mirrored
  * the same bounds). This tool makes that class of vacuity visible
  * mechanically: for every `SparkEntry.queries` entry it walks the
  * ANALYZED plan (the user-written shape, before the optimizer folds
  * anything), finds each conditional site (CaseWhen, If, multi-arg
  * Coalesce), derives per-arm HIT indicators (arm i of a CASE fires
  * when its condition is TRUE and every earlier one is not; arm i of a
  * COALESCE supplies the value when all earlier args are NULL and it
  * is not), and counts rows per arm by evaluating the indicators over
  * the site's child subplan — one batched aggregate per (entry, child).
  *
  * A zero-hit arm is flagged DEAD unless allowlisted with a reason
  * (error-guard arms like assert_true's raise path are dead BY DESIGN
  * in a passing run). Sites whose conditional cannot be row-evaluated
  * against a single child (spans both join sides, or wraps an
  * aggregate result inline) are reported as `skipped` rather than
  * silently ignored — no silent caps.
  *
  * Usage: runMain graft.Diag branch-audit <sfDir> <outJson> [entry ...]
  * Exit: prints a summary line; the JSON carries per-arm rows. The
  * round artifact is BRANCHES_r{N}.json.
  */
object BranchAudit {

  /** (entry-name pattern, expression-SQL fragment, reason) triples for
    * arms that are legitimately dead in a green run.
    */
  private val allowlist: Seq[(String, String, String)] = Seq(
    ("*", "assert_true", "error-guard arm: fires only on contract violation"),
    ("*", "raise_error", "error-guard arm: fires only on contract violation"),
    // the fixture has events on EVERY day at every SF, so a 7-day
    // rolling window can never see an empty day: the gap arm is
    // fixture-vacuous, not structurally vacuous (w16's arm, by
    // contrast, fires on zero-NEW-USER days, which do exist)
    ("w13_rolling_distinct", "coalesce(au7, 0",
      "every fixture day has activity; arm fires only on gap days"),
    // the fixture user×event_type grid is fully dense at every SF
    // (15×5 and 150×5 checked), so na.fill's zero arm cannot fire
    ("a10_pivot", "coalesce(",
      "na.fill arm: fires only for user,type combos absent from the grid; fixture grid is dense"),
    ("j12b_fuzzy_join2", "length(",
      "defensive empty-string guard; fixture names are never empty"),
    // r16 sf1 spot-gate: at the salted sf1 corpus this guard genuinely
    // fires (69,500 docs lose EVERY segment to the hot-df filter), so
    // the r15 "never fires" reason was fixture-scoped — the arm is real
    // and live at sf1; at sf0.01/0.1 no document loses all segments
    ("l16_line_dedup", "coalesce(",
      "all-segments-hot arm: fires only when every segment of a doc is boilerplate; live at sf1 (BRANCHES_r16 _sf1), vacuous at sf0.01 where no doc is fully hot"),
    // r16 sf1 spot-gate: the comparator VALUE arms need >=2-element
    // arrays; the x100-salted sf1 corpus leaves <=1 kept segment per
    // doc (every repeated segment is hot), so the pair liveness domain
    // is empty there — the arms are live at sf0.01 (primary section)
    ("l16_line_dedup", "namedlambdavariable() < namedlambdavariable()",
      "array_sort comparator pair domain empty at the salted sf1 corpus (<=1 kept segment per doc); live at sf0.01"),
    ("l16_line_dedup", "namedlambdavariable() > namedlambdavariable()",
      "array_sort comparator pair domain empty at the salted sf1 corpus (<=1 kept segment per doc); live at sf0.01"),
    // canonicalUrl's default-port/empty-param-set arms: the synthetic
    // fixture URLs are https with params, but PropertySpec's URL law
    // drives these arms with generated http/:80/no-param vectors
    ("l17_url_dedup", "regexp_extract",
      "kernel arm exercised by PropertySpec's generated URL vectors"),
    ("l17_url_dedup", "array_join(sort_array",
      "empty-param-set arm exercised by PropertySpec's generated URL vectors"),
    ("l23_repetition_stats", "size(t) <",
      "short-input guard; every fixture document has >=2 tokens"),
    ("l25_span_corruption", "size(t) <",
      "short-input guard; every fixture document has >=8 tokens"),
    // a data-quality EXPECTATIONS entry counts violations: zero on the
    // clean fixture is the asserted-healthy outcome, not vacuity
    ("m19_expectations", "CASE WHEN",
      "expectation violation counters are zero on a clean fixture by design"),
    // r15 (lambda-probe coverage made these visible): Spark's DEFAULT
    // array_sort comparator is engine-synthesized with null-handling
    // arms; no fixture array contains null elements, so over the full
    // ordered-pair liveness domain those arms cannot fire — an engine
    // contract arm, not a user branch
    ("*", "(IF(((namedlambdavariable() IS NULL) AND",
      "engine-default array_sort comparator both-null arm; fixture arrays contain no null elements"),
    ("*", "(IF((namedlambdavariable() IS NULL)",
      "engine-default array_sort comparator null arm; fixture arrays contain no null elements"),
    // f4 exists to DEMONSTRATE nullif: nullif(x, x) is NULL by
    // definition, so the non-null arm is structurally unreachable by
    // construction — that unreachability is the documented semantics
    ("f4_conditional_fns", "nullif(c_name, c_name)",
      "nullif(x,x) is NULL by definition; the demonstration makes the arm structurally unreachable"),
    ("f4_conditional_fns", "IF((c_name = c_name)",
      "nullif's expansion: x=x is always true here (non-null names), the pass-through arm cannot fire"),
    ("w12_period_over_period", "prev_sv AS DOUBLE) = 0.0",
      "zero-denominator guard (NULLIF twin); every fixture period has sales, so the zero arm is fixture-vacuous")
  )

  private def allowlisted(entry: String, exprSql: String): Option[String] =
    allowlist.collectFirst {
      case (e, frag, reason)
        if (e == "*" || e == entry) &&
          exprSql.toLowerCase.contains(frag.toLowerCase) => reason
    }

  /** Inline `With` common-expression definitions so the conditionals
    * inside them become self-contained (r15: the 9 `CommonExpressionRef`
    * skips were all With bodies whose defs are plain child-attribute
    * expressions — after substitution they audit like any other site).
    */
  private def inlineWith(e: Expression): Expression = e.transformUp {
    case w: With =>
      val defs = w.defs.map(d => d.id -> d.child).toMap
      w.child.transformUp {
        case r: CommonExpressionRef if defs.contains(r.id) => defs(r.id)
      }
  }

  /** True iff `e` references a lambda variable NOT bound by a complete
    * LambdaFunction inside `e` itself — only then is the expression
    * element-level; a row-level conditional that merely CONTAINS a
    * higher-order function (bound lambda) audits like any other row
    * site (r15: that distinction recovers 10 of the r14 skips).
    */
  private def hasFreeLambdaVar(e: Expression,
      bound: Set[ExprId] = Set.empty): Boolean = e match {
    case v: NamedLambdaVariable => !bound(v.exprId)
    case lf: LambdaFunction =>
      val b2 = bound ++ lf.arguments.collect {
        case v: NamedLambdaVariable => v.exprId }
      hasFreeLambdaVar(lf.function, b2)
    case other => other.children.exists(hasFreeLambdaVar(_, bound))
  }

  /** Per-arm hit indicators for one conditional expression. */
  private def arms(e: Expression): Seq[(String, Expression)] = {
    def isTrue(c: Expression) = Coalesce(Seq(c, Literal(false)))
    e match {
      case CaseWhen(branches, elseValue) =>
        val conds = branches.map(_._1)
        val hits = conds.zipWithIndex.map { case (c, i) =>
          val earlierMiss = conds.take(i)
            .map(ec => Not(isTrue(ec))).reduceOption(And).getOrElse(Literal(true))
          (s"when$i", And(earlierMiss, isTrue(c)))
        }
        val allMiss = conds.map(c => Not(isTrue(c))).reduce(And)
        if (elseValue.isDefined) hits :+ ("else", allMiss) else hits
      case If(p, _, _) =>
        Seq(("then", isTrue(p)), ("else", Not(isTrue(p))))
      case Coalesce(children) if children.size > 1 =>
        children.zipWithIndex.map { case (c, i) =>
          val earlierNull = children.take(i)
            .map(IsNull(_): Expression).reduceOption(And).getOrElse(Literal(true))
          (s"arg$i", And(earlierNull, IsNotNull(c)))
        }
      case _ => Nil
    }
  }

  /** Long-valued per-row hit count for a ROW-level boolean indicator. */
  private def rowCount(ind: Expression): Expression =
    If(ind, Literal(1L), Literal(0L))

  /** Count of TRUE elements in an array<boolean> (0 for a null array). */
  private def trueCount(arr: Expression): Expression = {
    import org.apache.spark.sql.types.{BooleanType, LongType}
    val b = NamedLambdaVariable("__hit", BooleanType, nullable = true)
    Coalesce(Seq(
      Cast(Size(ArrayFilter(arr,
        LambdaFunction(Coalesce(Seq(b, Literal(false))), Seq(b)))), LongType),
      Literal(0L)))
  }

  /** Element-domain probes for a conditional inside a higher-order
    * function's lambda (r15: previously the whole class was skipped as
    * "references span multiple children" — 28 of the 40 r14 skips).
    * The SAME iteration domain is rebuilt with the arm indicator as the
    * lambda body and TRUE elements are counted per row: hits then count
    * DATA ELEMENTS meeting the arm's condition, the element-level
    * analogue of the row-level audit. For an array_sort comparator the
    * domain is all ordered element pairs (i ≠ j) — the comparisons a
    * sort COULD make; an arm no pair can trigger is dead for this data
    * under any visit order. Folds (aggregate()) stay skipped: their arm
    * firing depends on the running accumulator, which no per-element
    * probe can replay.
    */
  private def lambdaProbe(hof: HigherOrderFunction, e: Expression)
      : Either[String, Seq[(String, Expression)]] = {
    import scala.util.{Left, Right}
    import org.apache.spark.sql.types.IntegerType
    val f = hof.functions.collectFirst {
      case lf: LambdaFunction if lf.exists(_ eq e) => lf
    } match {
      case Some(lf) => lf
      case None => return Left("conditional not inside the HOF lambda")
    }
    val binders = f.arguments.collect { case v: NamedLambdaVariable => v }
    // FREE variables only (r16): a variable bound by a COMPLETE lambda
    // nested inside the conditional (j12b's del1-within-del1 transform)
    // is self-contained, not a capture — the r15 occurrence-based check
    // skipped that whole class
    def freeLambdaVars(x: Expression,
        bound: Set[ExprId] = Set.empty): Seq[NamedLambdaVariable] = x match {
      case v: NamedLambdaVariable => if (bound(v.exprId)) Nil else Seq(v)
      case lf: LambdaFunction =>
        val b2 = bound ++ lf.arguments.collect {
          case v: NamedLambdaVariable => v.exprId }
        freeLambdaVars(lf.function, b2)
      case other => other.children.flatMap(freeLambdaVars(_, bound))
    }
    val lambdaVars = freeLambdaVars(e).distinct
    if (!lambdaVars.forall(v => binders.exists(_.exprId == v.exprId)))
      return Left("captures an outer lambda's variable (nested lambda)")
    if (hof.arguments.exists(a => freeLambdaVars(a).nonEmpty))
      return Left("HOF domain argument references an outer lambda variable (nested domain)")
    val indicators = arms(e)
    def overArray(arg: Expression) = Right(indicators.map { case (n, ind) =>
      (n, trueCount(ArrayTransform(arg, LambdaFunction(ind, f.arguments))))
    })
    def overMap(arg: Expression) = Right(indicators.map { case (n, ind) =>
      (n, trueCount(MapValues(TransformValues(arg,
        LambdaFunction(ind, f.arguments)))))
    })
    hof match {
      case t: ArrayTransform => overArray(t.argument)
      case t: ArrayFilter => overArray(t.argument)
      case t: ArrayExists => overArray(t.argument)
      case t: ArrayForAll => overArray(t.argument)
      case t: TransformValues => overMap(t.argument)
      case t: TransformKeys => overMap(t.argument)
      case t: MapFilter => overMap(t.argument)
      case t: MapZipWith => Right(indicators.map { case (n, ind) =>
        (n, trueCount(MapValues(MapZipWith(t.left, t.right,
          LambdaFunction(ind, f.arguments)))))
      })
      case t: ArraySort if binders.size == 2 =>
        val Seq(x, y) = binders
        val iV = NamedLambdaVariable("__i", IntegerType, nullable = false)
        val jV = NamedLambdaVariable("__j", IntegerType, nullable = false)
        Right(indicators.map { case (n, ind) =>
          val pairInd = And(Not(EqualTo(iV, jV)),
            Coalesce(Seq(ind, Literal(false))))
          val inner = ArrayTransform(t.argument,
            LambdaFunction(pairInd, Seq(y, jV)))
          val outer = ArrayTransform(t.argument,
            LambdaFunction(inner, Seq(x, iV)))
          (n, trueCount(Flatten(outer)))
        })
      case t: ArrayAggregate => foldPairProbe(t, e)
      case other => Left("unsupported HOF " +
        s"${other.getClass.getSimpleName} (fold/accumulator domain)")
    }
  }

  /** Element-domain probe for a fold arm whose condition only consults
    * the PREVIOUS ELEMENT (r16 — l23's run-length fold): when every
    * accumulator reference inside an arm indicator is `acc.<field>` and
    * the merge function assigns that field the bare element variable
    * (`struct(x AS prev, ...)`), the indicator is a pure relation over
    * consecutive elements — (seedField, a₀), (a₀, a₁), … — and that
    * pair domain is rebuilt exactly with zip_with over the seed-shifted
    * array. Arms that consult the RUNNING accumulator value itself
    * (w15's EWMA `acc IS NULL`) have no element-domain replay — the
    * fold state is the whole history — and stay skipped with that
    * reason; their liveness is owned by the entry's spec vectors.
    */
  private def foldPairProbe(t: ArrayAggregate, e: Expression)
      : Either[String, Seq[(String, Expression)]] = {
    import scala.util.{Left, Right}
    val mergeFn = t.merge match {
      case lf: LambdaFunction => lf
      case _ => return Left("fold merge is not a lambda")
    }
    if (!mergeFn.function.exists(_ eq e))
      return Left("fold conditional outside the merge lambda (finish domain)")
    val (accV, xV) = mergeFn.arguments match {
      case Seq(a: NamedLambdaVariable, x: NamedLambdaVariable) => (a, x)
      case _ => return Left("fold merge does not bind (acc, x)")
    }
    def fields(ex: Expression): Option[Seq[Expression]] = ex match {
      case cns: CreateNamedStruct => Some(cns.valExprs)
      case _ => None
    }
    (fields(mergeFn.function), fields(t.zero)) match {
      case (Some(mFields), Some(zFields)) if mFields.size == zFields.size =>
        val prevOrds = mFields.zipWithIndex.collect {
          case (v, i) if v.semanticEquals(xV) => i
        }.toSet
        if (prevOrds.isEmpty)
          return Left("fold accumulator carries no previous-element field " +
            "— no element-domain replay; the entry's spec owns the arm")
        val p = NamedLambdaVariable("__prev", xV.dataType, nullable = true)
        val probes = arms(e).map { case (n, ind) =>
          val rewritten = ind.transform {
            case g: GetStructField => g.child match {
              case v: NamedLambdaVariable
                  if v.exprId == accV.exprId && prevOrds(g.ordinal) => p
              case _ => g
            }
          }
          val leftover = rewritten.exists {
            case v: NamedLambdaVariable => v.exprId == accV.exprId
            case _ => false
          }
          if (leftover) return Left("fold arm consults the running " +
            "accumulator value (not a previous-element field) — no " +
            "element-domain replay exists; the entry's spec owns the arm")
          // ords referenced by THIS indicator pin the seed; they must
          // agree (they all rewrote to the same __prev variable)
          val seedOrds = ind.collect {
            case g: GetStructField if g.child.isInstanceOf[NamedLambdaVariable] &&
              g.child.asInstanceOf[NamedLambdaVariable].exprId == accV.exprId &&
              prevOrds(g.ordinal) => g.ordinal
          }.distinct
          if (seedOrds.size > 1) return Left(
            "fold arm mixes previous-element fields with distinct seeds")
          val seed0 = seedOrds.headOption.map(zFields(_))
            .getOrElse(Literal(null, xV.dataType))
          val seed = if (seed0.dataType == xV.dataType) seed0
            else Cast(seed0, xV.dataType)
          val arr = t.argument
          val shifted = Concat(Seq(CreateArray(Seq(seed)),
            Slice(arr, Literal(1), Subtract(Size(arr), Literal(1)))))
          val pairs = ZipWith(shifted, arr, LambdaFunction(rewritten, Seq(p, xV)))
          (n, If(LessThanOrEqual(Size(arr), Literal(0)),
            Literal(0L), trueCount(pairs)))
        }
        Right(probes)
      case _ => Left("fold accumulates a scalar running value (no " +
        "previous-element struct field) — no element-domain replay " +
        "exists; the entry's spec owns the arm")
    }
  }

  private case class Site(entry: String, node: String, exprSql: String,
      child: LogicalPlan, armExprs: Seq[(String, Expression)])

  /** Conditional sites of one analyzed plan, deduped by expression SQL
    * (aliases make the same expression surface in several layers).
    */
  private def sitesOf(entry: String, plan: LogicalPlan)
      : (Seq[Site], Seq[(String, String)]) = {
    val seen = scala.collection.mutable.Set[String]()
    val out = scala.collection.mutable.ArrayBuffer[Site]()
    val skipped = scala.collection.mutable.ArrayBuffer[(String, String)]()
    plan.foreach { node =>
      node.expressions.map(inlineWith).foreach { top =>
        val conditionals = top.collect {
          case c: CaseWhen => c: Expression
          case c: If => c: Expression
          case c: Coalesce if c.children.size > 1 => c: Expression
        }
        val hofs = top.collect { case h: HigherOrderFunction => h }
        conditionals.foreach { e =>
          val sql = try e.sql catch { case _: Throwable => e.toString }
          if (!seen(sql)) {
            seen += sql
            val hasAgg = e.exists(_.isInstanceOf[AggregateExpression])
            val isLambda = hasFreeLambdaVar(e)
            if (hasAgg || !e.deterministic) skipped += ((sql.take(160),
              if (hasAgg) "wraps an aggregate result" else "non-deterministic"))
            else if (isLambda) {
              // innermost enclosing HOF = the one with the smallest
              // lambda tree still containing the conditional
              val enclosing = hofs
                .filter(h => h.functions.exists(_.exists(_ eq e)))
                .sortBy(_.functions.map(_.collect { case x => x }.size).sum)
                .headOption
              enclosing match {
                case None => skipped += ((sql.take(160),
                  "lambda conditional with no enclosing HOF"))
                case Some(h) => lambdaProbe(h, e) match {
                  case scala.util.Left(why) => skipped += ((sql.take(160), why))
                  case scala.util.Right(cnts0) =>
                    // pre-aggregation probe (VERDICT r14 item 8): a
                    // probe wrapping an aggregate result (the
                    // sort_array(collect_list(..)) comparators) cannot
                    // evaluate against the raw child — materialize the
                    // aggregate per group first, then count over the
                    // per-group arrays
                    val (cnts, child) = node match {
                      case agg: Aggregate
                          if cnts0.exists(_._2.exists(
                            _.isInstanceOf[AggregateExpression])) =>
                        val aggExprs = cnts0.flatMap(_._2.collect {
                          case ae: AggregateExpression => ae }).distinct
                        val aliases = aggExprs.zipWithIndex.map {
                          case (ae, i) => Alias(ae, s"__probe$i")() }
                        val rewritten = cnts0.map { case (n, c) =>
                          (n, c.transform { case ae: AggregateExpression =>
                            aliases(aggExprs.indexWhere(_ fastEquals ae))
                              .toAttribute }) }
                        (rewritten, Some(Aggregate(agg.groupingExpressions,
                          aliases, agg.child): LogicalPlan))
                      case _ =>
                        val refs = AttributeSet(cnts0.flatMap(_._2.references))
                        (cnts0, node.children.find(c =>
                          refs.subsetOf(c.outputSet)))
                    }
                    child match {
                      case Some(ch) =>
                        out += Site(entry, node.nodeName + "/lambda", sql, ch, cnts)
                      case None => skipped += ((sql.take(160),
                        "probe references span multiple children"))
                    }
                }
              }
            } else node.children.find(c => e.references.subsetOf(c.outputSet)) match {
              case Some(ch) => out += Site(entry, node.nodeName, sql, ch,
                arms(e).map { case (n, ind) => (n, rowCount(ind)) })
              case None => skipped += ((sql.take(160),
                "references span multiple children"))
            }
          }
        }
      }
    }
    (out.toSeq, skipped.toSeq)
  }

  /** Audit `only` (every entry when empty) at `sfDir` into `outJson`. */
  def run(spark: SparkSession, sfDir: String, outJson: String, only: Set[String]): Unit = {

    val entries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.isEmpty || only(kv._1))
    val results = scala.collection.mutable.ArrayBuffer[String]()
    var deadCount = 0
    var siteCount = 0
    entries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val (sites, skipped) = sitesOf(name, df.queryExecution.analyzed)
        siteCount += sites.size
        // one aggregate job per distinct child subplan, all arms batched
        val evalSkipped = scala.collection.mutable.ArrayBuffer[(String, String)]()
        val armRows = sites.groupBy(_.child).toSeq.flatMap { case (child, ss) =>
          try {
            val childDf = ColumnBridge.ofRows(spark, child)
            val flat = ss.flatMap(s => s.armExprs.map(a => (s, a._1, a._2)))
            val aggCols = flat.map { case (_, _, cnt) =>
              org.apache.spark.sql.functions.sum(ColumnBridge.column(cnt))
            }
            val row = try childDf.agg(aggCols.head, aggCols.tail: _*).head()
            catch {
              // r16 (closes the s12 skips): Spark refuses a scan whose
              // only referenced column is the PERMISSIVE-parse corrupt
              // record — widen the probe with one real-column count so
              // the scan is legal; the extra leading agg is dropped
              case t: Throwable if String.valueOf(t.getMessage)
                  .contains("QUERY_ONLY_CORRUPT_RECORD_COLUMN") =>
                val real = child.output.find(
                  !_.name.toLowerCase.contains("corrupt")).getOrElse(
                  throw t)
                val widened = org.apache.spark.sql.functions.count(
                  ColumnBridge.column(real)) +: aggCols
                childDf.agg(widened.head, widened.tail: _*).head()
                  match { case r =>
                    org.apache.spark.sql.Row.fromSeq(r.toSeq.drop(1)) }
            }
            flat.zipWithIndex.map { case ((s, armName, _), i) =>
              (s, armName, if (row.isNullAt(i)) 0L else row.getLong(i))
            }
          } catch {
            case t: Throwable =>
              ss.foreach(s => evalSkipped += ((s.exprSql.take(160),
                s"not evaluable standalone: ${String.valueOf(t.getMessage).take(80)}")))
              Nil
          }
        }
        val armJson = armRows.map { case (s, armName, hits) =>
          val status =
            if (hits > 0) "live"
            else allowlisted(name, s.exprSql)
              .map(r => s"allowlisted: $r").getOrElse { deadCount += 1; "DEAD" }
          s"""{"node": ${jsonString(s.node)}, "expr": ${jsonString(s.exprSql.take(160))}, """ +
            s""""arm": ${jsonString(armName)}, "hits": $hits, "status": ${jsonString(status)}}"""
        }
        val skJson = (skipped ++ evalSkipped).map { case (sql, why) =>
          s"""{"expr": ${jsonString(sql)}, "why": ${jsonString(why)}}""" }
        results += s"${jsonString(name)}: {\"arms\": [${armJson.mkString(",")}], " +
          s"\"skipped\": [${skJson.mkString(",")}]}"
      } catch {
        case t: Throwable =>
          results += s"${jsonString(name)}: {\"error\": ${jsonString(String.valueOf(t.getMessage).take(200))}}"
      }
    }
    val body = s"{\n${results.mkString(",\n")},\n" +
      s""""_summary": {"entries": ${entries.size}, "sites": $siteCount, "dead": $deadCount}}"""
    Files.writeString(Paths.get(outJson), body)
    println(s"BRANCH AUDIT: ${entries.size} entries, $siteCount sites, $deadCount DEAD arms -> $outJson")
  }
}
