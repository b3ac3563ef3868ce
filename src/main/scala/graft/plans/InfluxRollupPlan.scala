package graft.plans

import graft.etl.InfluxSink
import graft.sources.{InfluxRollup, InfluxScan, InfluxTable}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Attribute, AttributeReference, AttributeSet, Cast, Coalesce, Divide, EqualTo, Expression, ExprId, Floor, GenericInternalRow, GetMapValue, GreaterThan, GreaterThanOrEqual, If, IntegralDivide, IsNotNull, LessThan, LessThanOrEqual, Literal, Multiply, NamedExpression, PredicateHelper, Subtract}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, MaxBy, Min, MinBy, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** TIME-BUCKET aggregate pushdown for the Influx source — the documented
  * DSv2 boundary, closed with the next rung of the extension ladder:
  * `SupportsPushDownAggregates` is never consulted for
  * `GROUP BY time_ms div W` (V2ScanRelationPushDown only attempts a push
  * when every grouping expression is a bare attribute), so the hourly
  * rollup — THE time-series query — always pulled raw samples. This rule
  * is injected preCBO, which runs BEFORE V2 scan pushdown: the relation
  * is still the bare `DataSourceV2Relation` and any predicates are still
  * a catalyst `Filter` node above it. The rule recognizes the shape
  *
  *   Aggregate(group = [f(time_ms div W)] (+ measurement/field attrs,
  *                     tags['k'] map extractions, and/or one
  *                     floor(value / w | value · k) histogram bin) ,
  *             aggs  = min/max(time_ms | value), count(*),
  *                     sum/count/avg(value),
  *                     max_by/min_by(value, time_ms)  — Flux last()/first(),
  *             Project?(Filter?(DataSourceV2Relation(influx))))
  *
  * The bucket key may be ABSENT when a max_by/min_by is present (the
  * current-value-per-series / whole-range shapes V2 aggregate pushdown
  * can never serve): the leaf then windows by a default hour and the
  * final Aggregate re-merges the per-bucket partials, which is sound
  * because every pushed function is associative across buckets.
  *
  * translating the Filter itself under exactly the pushFilters contract
  * (integer-exact time bounds, single measurement/field equality, plus
  * tags['k'] == 'v' equalities pushed as Flux tag filters and re-checked
  * executor-side on fallback samples) — an
  * untranslatable conjunct aborts the rewrite and the plan falls through
  * to the ordinary scan pushdown. The matched subtree is replaced by
  * [[InfluxBucketRollupPlan]] — a leaf that POSTs the windowed Flux
  * decomposition of `aggregateWindow` (`group(columns?) |>
  * window(every: Wms)` + per-window `sort |> limit(n:1)` / `count` /
  * `sum`) and emits (tags..., bucket_start_ms, partial...) rows. The
  * Aggregate itself stays, re-keyed on the bucket attribute with its
  * functions re-aimed at the partial slots (count→sum, avg→sum/count) —
  * Spark still merges partials across the range shards, exactly like the
  * flat aggregate pushdown's contract. Belt and braces follow the
  * source's house rule: the executor re-enforces bounds on parsed
  * samples and falls back to local bucketing whenever a server ignored
  * `window()`, so correctness never hinges on server behavior. */
/** RAW-scan narrowing for `tags['k'] == 'v'` / `tags['k'] IN (...)` /
  * OR-of-equalities filters — shapes the DSv2 filter contract cannot
  * carry (map extractions never become V1/V2 source filters, so the scan
  * pulled every series and Spark filtered). This rule copies the relation
  * with the predicates encoded into a scan option (the ScanBuilder turns
  * them into Flux `filter(fn: (r) => r["k"] == "v")` / `contains(value:
  * r["k"], set: [...])` stages) while leaving the WHOLE Filter in the
  * plan: the residual is the re-check, so a server that ignores the
  * narrowing changes bytes moved, never results. Runs after the rollup
  * rule in the preCBO list — if the rollup claimed the subtree there is
  * no Filter left to narrow. */
object InfluxTagFilterRule extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, r: DataSourceV2Relation)
        if r.table.isInstanceOf[InfluxTable] &&
          !r.options.containsKey(InfluxTable.TagFilterOption) &&
          !r.options.containsKey(InfluxTable.TagRegexOption) =>
      val tagsAttr = r.output.find(_.name == "tags")
      def tagKeyOf(e: Expression): Option[String] = e match {
        case GetMapValue(m: AttributeReference,
            Literal(k: UTF8String, StringType))
          if tagsAttr.exists(_.exprId == m.exprId) => Some(k.toString)
        case _ => None
      }
      // same-key conjuncts INTERSECT: the option encoding carries one SET
      // per key (contains() semantics), so pushing each conjunct's set
      // separately would decode to their UNION — a wider population. The
      // residual Filter makes the raw scan correct either way, but
      // InfluxGroupTopNRule narrows the server's per-group top-k to this
      // pushed population, where a union lets foreign-set rows displace
      // true top-k rows on an HONEST server. None (some key's intersection
      // is empty — an always-false conjunction) pushes nothing; the
      // residual answers (with the empty result) by itself.
      val eqs = InfluxTagSets.intersectByKey(
        splitConjunctivePredicates(cond).flatMap(c =>
          InfluxTagSets.tagSetOf(c, tagKeyOf)))
      // regex conjuncts ride their own option (each renders as its own
      // Flux `=~` filter stage — conjunction, so no intersection algebra
      // is needed); only the RE2-safe synthesized family is recognized
      val res = splitConjunctivePredicates(cond).flatMap(c =>
        InfluxTagSets.tagRegexOf(c, tagKeyOf))
      eqs match {
        case Some(merged) if merged.nonEmpty || res.nonEmpty =>
          val m = new java.util.HashMap[String, String](
            r.options.asCaseSensitiveMap())
          if (merged.nonEmpty)
            m.put(InfluxTable.TagFilterOption, InfluxTable.encodeTagEq(merged))
          if (res.nonEmpty)
            m.put(InfluxTable.TagRegexOption, InfluxTable.encodeTagRegex(res))
          Filter(cond, r.copy(options =
            new org.apache.spark.sql.util.CaseInsensitiveStringMap(m)))
        case _ => f
      }
  }
}

/** The one place that recognizes a pushable tag-set predicate: equality,
  * `In` / `InSet` over non-null string literals, and OR-of-equalities on
  * one key — shared by the raw-scan narrowing, the rollup translation and
  * the grouped-TopN population gate so the three surfaces can never drift
  * on what "pushable" means. */
private[graft] object InfluxTagSets {
  import org.apache.spark.sql.catalyst.expressions.{In, InSet, Or}

  /** `(key, values)` when `e` is a pushable tag-set conjunct (the IN/OR
    * semantics: row passes iff the tag is present and its value is in the
    * set — exactly what the executor re-check and Flux contains() do). */
  def tagSetOf(e: Expression, tagKeyOf: Expression => Option[String])
      : Option[(String, Seq[String])] = e match {
    case EqualTo(l, Literal(v: UTF8String, StringType)) =>
      tagKeyOf(l).map(_ -> Seq(v.toString))
    case EqualTo(Literal(v: UTF8String, StringType), r) =>
      tagKeyOf(r).map(_ -> Seq(v.toString))
    case In(l, vs) if tagKeyOf(l).isDefined && vs.nonEmpty &&
        vs.forall {
          case Literal(v: UTF8String, StringType) => v != null
          case _ => false
        } =>
      tagKeyOf(l).map(_ -> vs.map {
        case Literal(v: UTF8String, StringType) => v.toString
      }.distinct)
    case InSet(l, hset) if tagKeyOf(l).isDefined && hset.nonEmpty &&
        hset.forall(_.isInstanceOf[UTF8String]) =>
      // InSet is OptimizeIn's large-list form; its value set is unordered
      // — sort for a deterministic option encoding
      tagKeyOf(l).map(_ ->
        hset.map(_.asInstanceOf[UTF8String].toString).toSeq.sorted)
    case Or(a, b) =>
      for {
        (ka, va) <- tagSetOf(a, tagKeyOf)
        (kb, vb) <- tagSetOf(b, tagKeyOf)
        if ka == kb
      } yield ka -> (va ++ vb).distinct
    case _ => None
  }

  /** AND-combine recognized conjunct sets: same-key sets intersect
    * (first-seen key order, for a deterministic encoding); `None` when
    * any key's intersection is empty — an always-false conjunction no
    * push path should carry. All three consumers (raw-scan narrowing,
    * rollup translation, grouped-TopN gate) fold through this one
    * function so "what a repeated key means" can never drift. */
  def intersectByKey(eqs: Seq[(String, Seq[String])])
      : Option[Seq[(String, Seq[String])]] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    eqs.foreach { case (k, vs) =>
      val merged = m.get(k).fold(vs)(_.intersect(vs))
      if (merged.isEmpty) return None
      m(k) = merged
    }
    Some(m.toSeq)
  }

  /** Pattern-binding form of [[tagSetOf]] so match sites evaluate the
    * (Or-tree-recursive) recognizer ONCE per conjunct instead of once in
    * the guard and again in the body. */
  final class Extractor(tagKeyOf: Expression => Option[String]) {
    def unapply(e: Expression): Option[(String, Seq[String])] =
      tagSetOf(e, tagKeyOf)
  }

  /** `(key, regex)` when `e` is a pushable tag-REGEX conjunct: a
    * LIKE-family predicate on `tags['k']` — prefix (`LIKE 'sensor.%'`,
    * which LikeSimplification reduces to StartsWith), suffix, contains,
    * or a general LIKE pattern — whose regex WE synthesize from escaped
    * literals plus `.*` / `.` / `^ \z` anchors and the `(?s)` flag only.
    * That subset is the language on which Java regex (Spark's residual
    * re-check) and Go RE2 (the server's Flux `=~`) provably agree, which
    * the narrowing REQUIRES: a pushed predicate REMOVES rows server-side,
    * and a row the server's dialect drops but Spark's would keep can
    * never be resurrected by the residual — wrong on an HONEST server.
    * Arbitrary RLIKE is therefore NOT claimed (Java-only syntax like
    * lookahead has no RE2 equivalent); it stays a client-side filter over
    * the full pull. Semantics: row passes iff the tag is present and
    * matches — NULL never matches, exactly Spark's NULL-propagating LIKE.
    * Newline soundness: Spark compiles LIKE with `(?s)` (`%`/`_` match
    * line terminators) and checks the WHOLE string, so the Like form
    * carries `(?s)` and anchors with `^`…`\z` — `^` is text-start in
    * both dialects without MULTILINE, and `\z` (unlike Java's `$`, which
    * also matches before a trailing terminator) is strict end-of-text in
    * both. Literals containing ISO control characters DECLINE the push:
    * they'd interpolate raw into the Flux `/…/` literal (a bare `\n`
    * makes the query unparseable) — those predicates stay client-side. */
  def tagRegexOf(e: Expression, tagKeyOf: Expression => Option[String])
      : Option[(String, String)] = {
    import org.apache.spark.sql.catalyst.expressions.{Contains, EndsWith, Like, StartsWith}
    def lit(x: Expression): Option[String] = x match {
      case Literal(v: UTF8String, StringType)
        if v != null && printableSafe(v.toString) => Some(v.toString)
      case _ => None
    }
    e match {
      case StartsWith(l, p) =>
        for { k <- tagKeyOf(l); s <- lit(p) } yield k -> prefixRe(s)
      case EndsWith(l, p) =>
        for { k <- tagKeyOf(l); s <- lit(p) } yield k -> suffixRe(s)
      case Contains(l, p) =>
        for { k <- tagKeyOf(l); s <- lit(p) } yield k -> containsRe(s)
      case Like(l, p, esc) =>
        for { k <- tagKeyOf(l); s <- lit(p); re <- likeToRegex(s, esc) }
          yield k -> re
      case _ => None
    }
  }

  /** A literal is safe to interpolate into a Flux `/…/` regex literal
    * only when it carries no ISO control characters — a raw `\n`/`\r`
    * inside the literal would terminate the Flux line and make the whole
    * query unparseable (fluxRegexLit only escapes `/`). Pushes decline
    * on unsafe literals; the predicate just stays client-side. */
  private[graft] def printableSafe(s: String): Boolean =
    !s.exists(Character.isISOControl)

  /** The three string-op regex forms, shared with the scan builder's
    * measurement/field narrowing: no `.` appears in any of them, so no
    * `(?s)` is needed; `^` is text-start in both dialects (no MULTILINE)
    * and `\z` is strict end-of-text in both (Java's `$` would also
    * accept a position before a trailing line terminator — a subject
    * `"door\n"` must NOT match `endswith "door"`). */
  private[graft] def prefixRe(s: String): String = "^" + quoteRe(s)
  private[graft] def suffixRe(s: String): String = quoteRe(s) + "\\z"
  private[graft] def containsRe(s: String): String = quoteRe(s)

  /** Escape every regex metacharacter — the escaped-punctuation forms are
    * identical literals in both Java regex and RE2. Shared with the
    * scan builder's measurement/field prefix push. */
  private[graft] def quoteRe(s: String): String =
    s.flatMap {
      case c if "\\^$.|?*+()[]{}".indexOf(c.toInt) >= 0 => "\\" + c
      case c => c.toString
    }

  /** LIKE pattern → anchored regex (`%` → `.*`, `_` → `.`, literals
    * escaped). Carries `(?s)` because Spark compiles LIKE in DOTALL mode
    * (its `%`/`_` match line terminators), and anchors `^`…`\z` so the
    * client's find()-based re-check demands a whole-string match exactly
    * like Spark's matches(). None on a malformed or non-standard escape
    * use (Spark only defines escaping of `%`, `_` and the escape char
    * itself — anything else errors at evaluation and must not be
    * claimed) — callers already screened the pattern for control chars
    * via [[printableSafe]]. */
  private def likeToRegex(pattern: String, escape: Char): Option[String] = {
    val sb = new StringBuilder("(?s)^")
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (c == escape) {
        if (i + 1 >= pattern.length) return None
        val n = pattern.charAt(i + 1)
        if (n != '%' && n != '_' && n != escape) return None
        sb ++= quoteRe(n.toString); i += 2
      } else {
        if (c == '%') sb ++= ".*"
        else if (c == '_') sb += '.'
        else sb ++= quoteRe(c.toString)
        i += 1
      }
    }
    Some(sb.append("\\z").result())
  }

  /** The LIKE translation by pattern STRING — the spelling the streaming
    * read's explicit `pushedTagRegexes` option needs (no Catalyst rule
    * runs on a `readStream` relation, so users narrow via
    * [[graft.sources.InfluxTable.tagLike]], which must synthesize the
    * exact regex the batch rule would). Same claims, same declines. */
  def likeRegexOf(pattern: String, escape: Char = '\\'): Option[String] =
    if (!printableSafe(pattern)) None else likeToRegex(pattern, escape)

  /** Pattern-binding form of [[tagRegexOf]], mirroring [[Extractor]]. */
  final class RegexExtractor(tagKeyOf: Expression => Option[String]) {
    def unapply(e: Expression): Option[(String, String)] =
      tagRegexOf(e, tagKeyOf)
  }
}

object InfluxBucketRollupRule extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate => rewrite(agg).getOrElse(agg)
  }

  /** The translated read context of a Filter?(relation) subtree — the same
    * four knobs pushFilters claims, rebuilt from catalyst predicates
    * (preCBO runs BEFORE V2 scan pushdown, so the Filter is still a plan
    * node here). None ⟺ some conjunct is not exactly translatable. */
  private case class Bounds(startMs: Long, stopMs: Option[Long],
                            measurement: Option[String],
                            field: Option[String],
                            tagEq: Seq[(String, Seq[String])] = Nil,
                            tagRegex: Seq[(String, String)] = Nil)

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    // unwrap: optional pure Project (aliases/attrs only) over an optional
    // fully-translatable Filter over the influx relation
    val (aliasMap, filterCond, relation) = agg.child match {
      case r: DataSourceV2Relation =>
        (Map.empty[ExprId, Expression], None, r)
      case Filter(cond, r: DataSourceV2Relation) =>
        (Map.empty[ExprId, Expression], Some(cond), r)
      case Project(projList, r: DataSourceV2Relation) =>
        val m = pureProject(projList).getOrElse(return None)
        (m, None, r)
      case Project(projList, Filter(cond, r: DataSourceV2Relation)) =>
        val m = pureProject(projList).getOrElse(return None)
        (m, Some(cond), r)
      case _ => return None
    }
    if (!relation.table.isInstanceOf[InfluxTable]) return None
    val scanOutput = relation.output

    def resolve(e: Expression): Expression = e.transformUp {
      case a: AttributeReference => aliasMap.getOrElse(a.exprId, a)
    }
    val timeAttr = scanOutput.find(_.name == "time_ms").getOrElse(return None)
    val valueAttr = scanOutput.find(_.name == "value")
    val measAttr = scanOutput.find(_.name == "measurement")
    val fieldAttr = scanOutput.find(_.name == "field")
    val tagsAttr = scanOutput.find(_.name == "tags")
    def isTagsMap(e: Expression): Boolean = e match {
      case a: AttributeReference => tagsAttr.exists(_.exprId == a.exprId)
      case Cast(c, _, _, _) => isTagsMap(c)
      case _ => false
    }

    // translate the residual Filter exactly (same contract as pushFilters:
    // integer-exact time bounds, single measurement/field equality,
    // isnotnull over never-null reader columns) — anything else aborts
    val bounds: Bounds = {
      var start = InfluxScan.MinTimeMs
      var stop = Option.empty[Long]
      var meas = Option.empty[String]
      var fld = Option.empty[String]
      val tagEqs = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
      val tagRes = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val notNullTagKeys = scala.collection.mutable.Set.empty[String]
      def tagKeyOf(e: Expression): Option[String] = e match {
        case GetMapValue(m, Literal(k: UTF8String, StringType))
          if isTagsMap(m) => Some(k.toString)
        case _ => None
      }
      def attrOf(e: Expression): Option[AttributeReference] = e match {
        case a: AttributeReference => Some(a)
        case _ => None
      }
      def isAttr(e: Expression, target: Option[AttributeReference]): Boolean =
        attrOf(e).exists(a => target.exists(_.exprId == a.exprId))
      val TagSet = new InfluxTagSets.Extractor(tagKeyOf)
      val TagRe = new InfluxTagSets.RegexExtractor(tagKeyOf)
      val conjuncts = filterCond.toSeq.flatMap(splitConjunctivePredicates)
      conjuncts.foreach {
        case GreaterThanOrEqual(t, Literal(v: Long, LongType))
          if isAttr(t, Some(timeAttr)) => start = math.max(start, v)
        case LessThanOrEqual(Literal(v: Long, LongType), t)
          if isAttr(t, Some(timeAttr)) => start = math.max(start, v)
        case GreaterThan(t, Literal(v: Long, LongType))
          if isAttr(t, Some(timeAttr)) && v != Long.MaxValue =>
          start = math.max(start, v + 1)
        case LessThan(Literal(v: Long, LongType), t)
          if isAttr(t, Some(timeAttr)) && v != Long.MaxValue =>
          start = math.max(start, v + 1)
        case LessThan(t, Literal(v: Long, LongType))
          if isAttr(t, Some(timeAttr)) =>
          stop = Some(stop.fold(v)(math.min(_, v)))
        case GreaterThan(Literal(v: Long, LongType), t)
          if isAttr(t, Some(timeAttr)) =>
          stop = Some(stop.fold(v)(math.min(_, v)))
        case LessThanOrEqual(t, Literal(v: Long, LongType))
          if isAttr(t, Some(timeAttr)) && v != Long.MaxValue =>
          stop = Some(stop.fold(v + 1)(math.min(_, v + 1)))
        case GreaterThanOrEqual(Literal(v: Long, LongType), t)
          if isAttr(t, Some(timeAttr)) && v != Long.MaxValue =>
          stop = Some(stop.fold(v + 1)(math.min(_, v + 1)))
        case EqualTo(a, Literal(s: UTF8String, StringType))
          if isAttr(a, measAttr) && meas.forall(_ == s.toString) =>
          meas = Some(s.toString)
        case EqualTo(Literal(s: UTF8String, StringType), a)
          if isAttr(a, measAttr) && meas.forall(_ == s.toString) =>
          meas = Some(s.toString)
        case EqualTo(a, Literal(s: UTF8String, StringType))
          if isAttr(a, fieldAttr) && fld.forall(_ == s.toString) =>
          fld = Some(s.toString)
        case EqualTo(Literal(s: UTF8String, StringType), a)
          if isAttr(a, fieldAttr) && fld.forall(_ == s.toString) =>
          fld = Some(s.toString)
        // tag equality pushes as Flux `filter(fn: (r) => r["k"] == "v")`
        // — the "one sensor's hourly rollup" filter; IN / OR-of-equality
        // sets push as `contains(value: r["k"], set: [...])` (the "these
        // three sensors" dashboard filter). Conjuncts on one key
        // INTERSECT; an empty intersection is an always-false filter the
        // push cannot express — decline and let the unpushed plan answer
        case TagSet(k, vs) =>
          val merged = tagEqs.get(k).fold(vs)(_.intersect(vs))
          if (merged.isEmpty) return None
          tagEqs(k) = merged
        // tag LIKE-prefix/-suffix/-contains pushes as Flux `=~ /regex/`
        // (the "all sensor.* entities" dashboard filter), synthesized in
        // the RE2 ∩ Java-safe form and re-checked on fallback samples
        case TagRe(k, re) => tagRes += ((k, re))
        // isnotnull over the never-null reader columns (incl. the tags
        // map itself) is vacuous; over a tags['k'] extraction it is
        // implied by — and only accepted alongside — an equality or regex
        // on the same key, verified after the loop
        case IsNotNull(a)
          if isAttr(a, Some(timeAttr)) || isAttr(a, measAttr) ||
            isAttr(a, fieldAttr) || isTagsMap(a) => ()
        case IsNotNull(e) if tagKeyOf(e).isDefined =>
          notNullTagKeys += tagKeyOf(e).get
        case _ => return None
      }
      if (!notNullTagKeys.forall(k =>
        tagEqs.contains(k) || tagRes.exists(_._1 == k))) return None
      Bounds(start, stop, meas, fld, tagEqs.toSeq.sortBy(_._1),
        tagRes.toSeq.sortBy(_._1))
    }

    // grouping: exactly one bucket expression shaped time_ms div W (or
    // floor(time_ms / W)) — the epoch-bucket key — plus optionally the
    // measurement/field tag attributes (the r6 `group(columns:)` push
    // composed with the window). Type-coercion casts around the bucket
    // operands (floor's divide widens to double) are stripped: epoch-ms
    // magnitudes sit far below 2^53, so the double round-trip is exact
    // and floor(t/W) ≡ floorDiv(t, W) on this data
    def unCast(e: Expression): Expression = e match {
      case c: Cast => unCast(c.child)
      case x => x
    }
    def widthOf(e: Expression): Option[Long] = unCast(e) match {
      case Literal(w: Long, LongType) if w > 0 => Some(w)
      case Literal(w: Int, org.apache.spark.sql.types.IntegerType) if w > 0 =>
        Some(w.toLong)
      case Literal(w: Double, DoubleType)
        if w > 0 && w == w.toLong.toDouble => Some(w.toLong)
      case _ => None
    }
    // `time_ms` possibly shifted by a constant: `time_ms + c` / `c +
    // time_ms` / `time_ms - c` → Some(c) — the TIMEZONE-shifted bucket
    // operand ((t + tzMs) div day = the local-midnight-aligned day)
    def shiftedTime(e: Expression): Option[Long] = {
      def longLit(x: Expression): Option[Long] = unCast(x) match {
        case Literal(v: Long, LongType) => Some(v)
        case Literal(v: Int, org.apache.spark.sql.types.IntegerType) =>
          Some(v.toLong)
        case _ => None
      }
      def isTime(x: Expression): Boolean = unCast(x) match {
        case a: AttributeReference => a.exprId == timeAttr.exprId
        case _ => false
      }
      unCast(e) match {
        case a: AttributeReference if a.exprId == timeAttr.exprId => Some(0L)
        case Add(l, r, _) if isTime(l) => longLit(r)
        case Add(l, r, _) if isTime(r) => longLit(l)
        case Subtract(l, r, _) if isTime(l) => longLit(r).map(-_)
        case _ => None
      }
    }
    // (width W, shift c) of a bucket expression `(time_ms + c) div W` /
    // floor((time_ms + c) / W), optionally wrapped in the bucket-START
    // `* W` spelling. The leaf labels buckets with their UTC start on the
    // SHIFTED grid (epoch multiples of W, offset by floorMod(-c, W)) —
    // the re-aim substitutes that label for time_ms inside the ORIGINAL
    // expression, which reproduces the group value exactly (the label is
    // a member of its own bucket and bucket-aligned).
    def bucketShape(e: Expression): Option[(Long, Long)] = e match {
      // `div` (IntegralDivide) truncates toward zero; the executor and
      // the server's window starts bucket by floorDiv. The two agree on
      // non-negative operands only — with possibly-negative shifted
      // epochs in range the rewrite would silently regroup, so the div
      // shape only matches under a proven non-negative lower bound
      // (startMs + c ≥ 0). Floor(Divide) IS floorDiv and matches for any
      // range.
      case IntegralDivide(l, r, _) =>
        for {
          c <- shiftedTime(l)
          if bounds.startMs >= -c // t + c ≥ 0 over the whole pushed range
          w <- widthOf(r)
        } yield (w, c)
      case Floor(Divide(l, r, _)) =>
        for { c <- shiftedTime(l); w <- widthOf(r) } yield (w, c)
      // the bucket-START spelling `(bucket expr) * W`: the multiply is an
      // injective function of the bucket index, so it groups identically
      case Multiply(a, b, _) =>
        (bucketShape(unCast(a)), widthOf(b)) match {
          case (Some((wi, c)), Some(wo)) if wi == wo => Some((wi, c))
          case _ => (bucketShape(unCast(b)), widthOf(a)) match {
            case (Some((wi, c)), Some(wo)) if wi == wo => Some((wi, c))
            case _ => None
          }
        }
      case _ => None
    }
    // value-histogram bin key: floor(value / w) or floor(value · k) with
    // a positive finite numeric literal — the fixed-bin histogram group
    // (X13c's events_hist_quantiles shape, aimed at the server). The
    // token carries the op AND the exact double operand
    // (Double.toString round-trips bit-exactly), so Flux's map stage,
    // the executor fallback fold and Spark's own Floor all run the SAME
    // IEEE op — floor(v·10) and floor(v/0.1) differ on some doubles and
    // must never be conflated. A string-typed sample has NULL value and
    // bins to the NULL group on every path.
    // the BARE value attribute only — `value` is already DoubleType, so
    // any cast around it is USER-written and semantics-changing
    // (floor(CAST(value AS INT)/10.0) truncates before binning); unlike
    // the time-bucket operands, where stripping is an analyzed no-op,
    // stripping here would silently regroup. Same refusal as replaceAgg's
    // aggregate arguments. Casts around the LITERAL are the analyzer's
    // int→double coercion and remain safe to strip (exact conversion).
    def valueRef(e: Expression): Boolean = e match {
      case a: AttributeReference => valueAttr.exists(_.exprId == a.exprId)
      case _ => false
    }
    def binLit(e: Expression): Option[Double] = unCast(e) match {
      case Literal(d: Double, DoubleType)
        if d > 0 && java.lang.Double.isFinite(d) => Some(d)
      case Literal(i: Int, org.apache.spark.sql.types.IntegerType)
        if i > 0 => Some(i.toDouble)
      case Literal(l: Long, LongType) if l > 0 => Some(l.toDouble)
      case _ => None
    }
    def binKeyOf(e: Expression): Option[String] = e match {
      case Floor(Divide(v, w, _)) if valueRef(v) =>
        binLit(w).map(x => s"bin:/${x.toString}")
      case Floor(Multiply(v, k, _)) if valueRef(v) =>
        binLit(k).map(x => s"bin:*${x.toString}")
      case Floor(Multiply(k, v, _)) if valueRef(v) =>
        binLit(k).map(x => s"bin:*${x.toString}")
      case _ => None
    }
    var bucketMsOpt = Option.empty[(Long, Long)] // (width, shift c)
    // grouped keys in grouping order: (source expression on the scan,
    // leaf group-column name, leaf output attribute). Sources are the
    // measurement/field attrs, `tags['k']` map extractions — which push
    // as Flux `group(columns: ["k"])` over the stream's own tag column
    // (the per-SERIES rollup, e.g. per-entity_id hourly) — and at most
    // one value-bin key (pushed as a Flux map()-computed bin column)
    val groupKeys = scala.collection.mutable.ArrayBuffer
      .empty[(Expression, String, AttributeReference)]
    agg.groupingExpressions.foreach { g =>
      resolve(g) match {
        case e if bucketShape(e).isDefined =>
          if (bucketMsOpt.isDefined) return None // two bucket keys
          bucketMsOpt = bucketShape(e)
        case e if binKeyOf(e).isDefined =>
          // one bin key max: every token maps to the single Flux `bin`
          // stream column, a second would silently alias the first
          if (groupKeys.exists(_._2.startsWith("bin:"))) return None
          groupKeys += ((e, binKeyOf(e).get,
            AttributeReference("bin", LongType, nullable = true)()))
        case a: AttributeReference
          if measAttr.exists(_.exprId == a.exprId) ||
            fieldAttr.exists(_.exprId == a.exprId) =>
          val src = if (measAttr.exists(_.exprId == a.exprId)) measAttr.get
                    else fieldAttr.get
          if (!groupKeys.exists(_._2 == src.name))
            // the reader never emits NULL measurement/field — "" at worst
            groupKeys += ((src, src.name,
              AttributeReference(src.name, StringType, nullable = false)()))
        case gm @ GetMapValue(m, Literal(k: UTF8String, StringType))
          if isTagsMap(m) =>
          val name = s"tag:${k.toString}"
          if (!groupKeys.exists(_._2 == name))
            // a sample without the tag groups under NULL, exactly like
            // the scan's tags['k'] extraction (the reader drops empty
            // tags, and InfluxDB does not store them)
            groupKeys += ((gm, name,
              AttributeReference(k.toString, StringType, nullable = true)()))
        case _ => return None
      }
    }
    // no bucket key in the grouping (current-value-per-series /
    // whole-range shapes): any window width serves, because the final
    // Aggregate re-merges the per-bucket partials — sum/count/min/max/
    // max_by are all associative across buckets — so default to an hour.
    // The shape is only CLAIMED when it carries a max_by/min_by (checked
    // after the agg walk): everything else already pushes through
    // SupportsPushDownAggregates + group(columns:), and this rule must
    // not shadow that tested path.
    val bucketMs: Long = bucketMsOpt.map(_._1).getOrElse(3600000L)
    // the shifted grid's offset in [0, W): window starts sit at epoch
    // multiples of W plus this (floorMod(-c, W) — the label algebra in
    // bucketShape's scaladoc)
    val bucketOffsetMs: Long =
      bucketMsOpt.map { case (w, c) => Math.floorMod(-c, w) }.getOrElse(0L)
    // NOTE: the DISTINCT-count rewrite below may still ADD leaf group
    // keys — group-column names are read off groupKeys at leaf
    // construction, after the aggregate walk

    val bucketAttr = AttributeReference("bucket_start_ms", LongType,
      nullable = false)()
    // re-aim every occurrence of a grouped source expression (attr or
    // tags['k'] extraction) at its leaf column, by semantic equality
    def reTag(e: Expression): Expression = e.transformUp {
      case sub if groupKeys.exists(_._1.semanticEquals(sub)) =>
        groupKeys.find(_._1.semanticEquals(sub)).get._3
    }

    // walk the aggregate functions; every one must translate to a spec
    val specs = scala.collection.mutable.ArrayBuffer.empty[InfluxScan.AggSpec]
    val slots = scala.collection.mutable.ArrayBuffer.empty[AttributeReference]
    def slotFor(spec: InfluxScan.AggSpec): AttributeReference = {
      val i = specs.indexOf(spec)
      if (i >= 0) slots(i)
      else {
        specs += spec
        val attr = spec match {
          case InfluxScan.AggCountStar =>
            AttributeReference(s"count_star_${slots.length}", LongType,
              nullable = false)()
          case InfluxScan.AggCountValue =>
            AttributeReference(s"count_value_${slots.length}", LongType,
              nullable = false)()
          case InfluxScan.AggSumValue =>
            AttributeReference(s"sum_value_${slots.length}", DoubleType)()
          case InfluxScan.AggSumSq =>
            AttributeReference(s"sum_sq_${slots.length}", DoubleType)()
          case InfluxScan.AggMinTime | InfluxScan.AggMaxTime =>
            AttributeReference(s"mm_time_${slots.length}", LongType)()
          case InfluxScan.AggLastValue =>
            AttributeReference(s"last_value_${slots.length}", DoubleType)()
          case InfluxScan.AggFirstValue =>
            AttributeReference(s"first_value_${slots.length}", DoubleType)()
          case _ =>
            AttributeReference(s"mm_value_${slots.length}", DoubleType)()
        }
        slots += attr
        attr
      }
    }
    var ok = true
    var distinctRewrite = false
    // find-or-add a leaf group key (the DISTINCT-count rewrite groups the
    // leaf by the counted column even when the user's GROUP BY does not)
    def keyAttrFor(src: Expression, name: String,
                   mk: => AttributeReference): AttributeReference =
      groupKeys.find(_._2 == name).map(_._3).getOrElse {
        val a = mk
        groupKeys += ((src, name, a))
        a
      }
    def replaceAgg(ae: AggregateExpression): Expression = {
      if (ae.filter.isDefined) { ok = false; return ae }
      if (ae.isDistinct) {
        // COUNT(DISTINCT tags['k'] | measurement | field) — "distinct
        // sensors reporting per hour" — pushes by grouping the LEAF by
        // the counted column: the leaf then emits one partial row per
        // (value, bucket) per shard, and counting DISTINCT leaf values
        // per bucket is exact (a value seen by two shards collapses in
        // the distinct; count(distinct) skips the NULL absent-tag group
        // exactly like the unpushed tags['k'] extraction). Rows moved
        // scale with distinct values × buckets, never samples. Every
        // other DISTINCT shape (count(distinct value), sum distinct)
        // has no bounded decomposition and stays unpushed.
        ae.aggregateFunction match {
          case Count(Seq(c)) => resolve(c) match {
            case gm @ GetMapValue(m, Literal(k: UTF8String, StringType))
              if isTagsMap(m) =>
              distinctRewrite = true
              return ae.copy(aggregateFunction = Count(Seq(keyAttrFor(
                gm, s"tag:${k.toString}",
                AttributeReference(k.toString, StringType,
                  nullable = true)()))))
            case a: AttributeReference
              if measAttr.exists(_.exprId == a.exprId) =>
              distinctRewrite = true
              return ae.copy(aggregateFunction = Count(Seq(keyAttrFor(
                measAttr.get, "measurement",
                AttributeReference("measurement", StringType,
                  nullable = false)()))))
            case a: AttributeReference
              if fieldAttr.exists(_.exprId == a.exprId) =>
              distinctRewrite = true
              return ae.copy(aggregateFunction = Count(Seq(keyAttrFor(
                fieldAttr.get, "field",
                AttributeReference("field", StringType,
                  nullable = false)()))))
            case _ => ()
          }
          case _ => ()
        }
        ok = false
        return ae
      }
      // agg arguments must be the BARE column (a user-written cast would
      // change semantics and must not be silently stripped — unlike the
      // coercion casts inside the bucket expression, which are analyzed
      // no-ops on this data)
      def isTime(e: Expression): Boolean = resolve(e) match {
        case a: AttributeReference => a.exprId == timeAttr.exprId
        case _ => false
      }
      def isValue(e: Expression): Boolean = resolve(e) match {
        case a: AttributeReference => valueAttr.exists(_.exprId == a.exprId)
        case _ => false
      }
      ae.aggregateFunction match {
        case Min(c) if isTime(c) =>
          ae.copy(aggregateFunction = Min(slotFor(InfluxScan.AggMinTime)))
        case Max(c) if isTime(c) =>
          ae.copy(aggregateFunction = Max(slotFor(InfluxScan.AggMaxTime)))
        case Min(c) if isValue(c) =>
          ae.copy(aggregateFunction = Min(slotFor(InfluxScan.AggMinValue)))
        case Max(c) if isValue(c) =>
          ae.copy(aggregateFunction = Max(slotFor(InfluxScan.AggMaxValue)))
        case Count(Seq(Literal(_, _))) =>
          // count over partials merges by SUM; count can never be NULL
          Coalesce(Seq(
            ae.copy(aggregateFunction = Sum(slotFor(InfluxScan.AggCountStar))),
            Literal(0L)))
        case Count(Seq(c)) if isValue(c) =>
          // count(value) = count of NUMERIC samples (the reader emits
          // NULL value for string-typed fields), which is exactly the
          // numeric-filtered Flux `count(column: "_value")` partial
          Coalesce(Seq(
            ae.copy(aggregateFunction = Sum(slotFor(InfluxScan.AggCountValue))),
            Literal(0L)))
        case Sum(c, _) if isValue(c) =>
          // double sum partials merge by sum; empty group stays NULL
          ae.copy(aggregateFunction = Sum(slotFor(InfluxScan.AggSumValue)))
        // the RAW-MOMENT spelling sum(value*value) — with sum+count it is
        // every variance/stddev panel's decomposition, and unlike Flux's
        // stddev() the three partials merge across shards/buckets by
        // plain addition. Only this spelling pushes: Spark's own
        // stddev_samp/var_samp fold Welford central moments whose low
        // bits differ from the raw-moment form, and a push must never
        // change a result. Both operands must be the BARE value column
        // (same no-cast refusal as every other agg argument). The
        // argument resolves through Project aliases first, so the
        // `SELECT value*value AS vv ... sum(vv)` spelling claims too.
        case Sum(c, _) if (resolve(c) match {
          case Multiply(a, b, _) => isValue(a) && isValue(b)
          case _ => false
        }) =>
          ae.copy(aggregateFunction = Sum(slotFor(InfluxScan.AggSumSq)))
        // Flux last()/first() decomposed: the leaf emits, per (group,
        // bucket), the extreme sample's value AND its timestamp; the
        // final merge is the same max_by/min_by over the partial pair —
        // associative across buckets and shards. A bucket whose extreme
        // sample is string-typed carries a NULL value slot (semantics
        // identical to the raw scan's value column); its TIME slot still
        // competes in the merge
        case MaxBy(v, t) if isValue(v) && isTime(t) =>
          ae.copy(aggregateFunction = MaxBy(
            slotFor(InfluxScan.AggLastValue), slotFor(InfluxScan.AggMaxTime)))
        case MinBy(v, t) if isValue(v) && isTime(t) =>
          ae.copy(aggregateFunction = MinBy(
            slotFor(InfluxScan.AggFirstValue), slotFor(InfluxScan.AggMinTime)))
        case Average(c, _) if isValue(c) =>
          // avg = sum/count over the SAME numeric population. Fresh
          // resultIds: two different functions must not share ae's
          // (their result attributes would collide in physical agg)
          val sum = ae.copy(
            aggregateFunction = Sum(slotFor(InfluxScan.AggSumValue)),
            resultId = NamedExpression.newExprId)
          val cnt = ae.copy(
            aggregateFunction = Sum(slotFor(InfluxScan.AggCountValue)),
            resultId = NamedExpression.newExprId)
          // guard the zero-count case explicitly: avg over zero numeric
          // samples is NULL under either ANSI mode (never a /0 error)
          If(EqualTo(Coalesce(Seq(cnt, Literal(0L))), Literal(0L)),
            Literal(null, DoubleType),
            Divide(sum, Cast(cnt, DoubleType)))
        case _ => ok = false; ae
      }
    }

    val newResult: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
      val aggReplaced = ne.transformUp {
        case ae: AggregateExpression => replaceAgg(ae)
      }
      // outside aggregate functions only the group expressions may
      // remain: resolve aliases, re-aim time_ms at the leaf's bucket
      // attribute (f(time_ms) is constant per bucket and bucket_start_ms
      // lies in its own bucket, so f(bucket_start_ms) IS the group key)
      // and the grouped tags at the leaf's tag columns
      val rewritten = reTag(aggReplaced.transformUp {
        case a: AttributeReference if aliasMap.contains(a.exprId) &&
          !slots.exists(_.exprId == a.exprId) => resolve(a)
      }.transformUp {
        case a: AttributeReference if a.exprId == timeAttr.exprId => bucketAttr
      })
      rewritten match {
        case n: NamedExpression => n
        // the root was a bare AttributeReference resolved through a
        // lower Project alias (SELECT h, count(*) FROM (SELECT time_ms
        // div W AS h ...) GROUP BY h): the substitution left a non-named
        // expression — re-wrap it preserving name AND exprId so
        // downstream references stay valid
        case other => Alias(other, ne.name)(exprId = ne.exprId)
      }
    }
    if (!ok) return None
    // a pure-DISTINCT aggregate registered no slot spec: the leaf still
    // needs one POSTable branch to DISCOVER the (group, bucket) rows —
    // the count branch does, grouped by the added key (its slot value is
    // simply unused by the final aggregate). The same discovery shape
    // claims SELECT DISTINCT tags['k'] / DISTINCT bucket — the "list all
    // sensors" dashboard-variable query (and "which hours have data"):
    // the leaf emits one row per (group, bucket) per shard — the
    // POPULATED groups exactly, incl. the NULL absent-tag group — and
    // the final Aggregate IS the distinct, collapsing shards and
    // buckets; rows moved scale with distinct values × buckets, never
    // samples. Measurement/field-ONLY distincts stay declined: those
    // keys are bare attributes the V2 aggregate path already serves,
    // and this rule must not shadow it.
    if (specs.isEmpty) {
      if (distinctRewrite ||
          groupKeys.exists(k => k._2.startsWith("tag:") ||
            k._2.startsWith("bin:")) ||
          bucketMsOpt.isDefined)
        slotFor(InfluxScan.AggCountStar)
      else return None
    }
    // a claimed push must NEVER lose a group Spark would emit: STRING
    // samples occupy a (group, bucket) row while contributing to no
    // numeric aggregate, so a spec set made only of numeric-population
    // aggs (sum/sum_sq/min/max/avg/count(value)) materializes NO leaf
    // row for a string-only bucket — while the unpushed Aggregate emits
    // that group with NULL sums and a 0 count(value). Add a hidden
    // occupancy branch: count-star sees every sample (trusted windowed
    // counts or the local all-sample fold), so the leaf emits the row
    // and the final aggregate's own NULL/0 semantics take over; its
    // slot is simply never referenced. Specs that already see string
    // samples (count-star, min/max over time_ms, last()/first()) make
    // the extra branch unnecessary.
    val occupancyBearing: InfluxScan.AggSpec => Boolean = {
      case InfluxScan.AggCountStar | InfluxScan.AggMinTime |
           InfluxScan.AggMaxTime | InfluxScan.AggLastValue |
           InfluxScan.AggFirstValue => true
      case _ => false
    }
    if (!specs.exists(occupancyBearing)) slotFor(InfluxScan.AggCountStar)
    // bucket-free groupings are claimed ONLY for shapes V2 aggregate
    // pushdown cannot serve: a max_by/min_by anywhere in the aggregate
    // list, a tags['k'] / floor(value∘lit) grouping key (map extractions
    // and computed bins are never bare attributes, so pushAggregation is
    // never offered them — without this claim a flat per-sensor count or
    // a value histogram pulls every raw sample), or a DISTINCT-count
    // rewrite (V2 refuses DISTINCT variants outright). Plain
    // measurement/field groupings stay on the tested V2 path.
    if (bucketMsOpt.isEmpty && !distinctRewrite &&
      !specs.exists(s =>
        s == InfluxScan.AggLastValue || s == InfluxScan.AggFirstValue) &&
      !groupKeys.exists(k => k._2.startsWith("tag:") ||
        k._2.startsWith("bin:")))
      return None
    val newGroup = agg.groupingExpressions.map(g =>
      reTag(resolve(g).transformUp {
        case a: AttributeReference if a.exprId == timeAttr.exprId => bucketAttr
      }))
    // any surviving reference to the scan's columns means a shape we did
    // not fully translate — bail out rather than risk a wrong plan
    val leaked = AttributeSet(scanOutput)
    if (newResult.exists(_.references.intersect(leaked).nonEmpty) ||
      newGroup.exists(_.references.intersect(leaked).nonEmpty)) return None

    val opts = relation.options
    val tagOut = groupKeys.map(_._3).toSeq
    val leaf = InfluxBucketRollupPlan(
      tagOut ++ (bucketAttr +: slots.toSeq),
      InfluxTable.cfgFrom(opts),
      Option(opts.get("readPartitions")).map(_.toInt).getOrElse(4),
      bounds.startMs, bounds.stopMs, bounds.measurement, bounds.field,
      bucketMs, specs.toSeq, groupKeys.map(_._2).toSeq, bounds.tagEq,
      bounds.tagRegex, bucketOffsetMs)
    Some(Aggregate(newGroup, newResult, leaf))
  }

  /** Alias/attr-only projections resolve to a substitution map; anything
    * computed would change row semantics before the aggregate — except
    * the pulled-out grouping expression itself, which IS the bucket key
    * (validated later by the group-shape match). */
  private def pureProject(projList: Seq[NamedExpression])
      : Option[Map[ExprId, Expression]] = {
    val entries = projList.map {
      case a @ Alias(e, _) => a.exprId -> e
      case a: AttributeReference => a.exprId -> (a: Expression)
    }
    Some(entries.toMap)
  }
}

/** Leaf logical node: windowed server-side partials of an Influx range —
  * (grouped tags..., bucket_start_ms, one slot per pushed aggregate), one
  * row per (range shard × group × non-empty bucket). */
case class InfluxBucketRollupPlan(output: Seq[Attribute],
                                  cfg: InfluxSink.Config,
                                  readPartitions: Int, startMs: Long,
                                  stopMs: Option[Long],
                                  measurement: Option[String],
                                  field: Option[String], bucketMs: Long,
                                  specs: Seq[InfluxScan.AggSpec],
                                  groupCols: Seq[String] = Nil,
                                  tagEq: Seq[(String, Seq[String])] = Nil,
                                  tagRegex: Seq[(String, String)] = Nil,
                                  bucketOffsetMs: Long = 0L)
    extends LeafNode

object InfluxRollupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: InfluxBucketRollupPlan =>
      InfluxBucketRollupExec(p.output, p.cfg, p.readPartitions, p.startMs,
        p.stopMs, p.measurement, p.field, p.bucketMs, p.specs,
        p.groupCols, p.tagEq, p.tagRegex, p.bucketOffsetMs) :: Nil
    case _ => Nil
  }
}

/** One task per range shard (the scan's own sharding rule); each POSTs the
  * windowed Flux per spec and emits per-bucket partial rows. House belt
  * and braces: min/max NEVER trust the server's window key — samples are
  * re-enforced against the pushed bounds and bucketed locally by their own
  * timestamps (a server that ignored window()/limit entirely still yields
  * the exact partials); a count response that looks like raw samples is
  * bucketed and counted locally the same way. */
case class InfluxBucketRollupExec(output: Seq[Attribute],
                                  cfg: InfluxSink.Config,
                                  readPartitions: Int, startMs: Long,
                                  stopMs: Option[Long],
                                  measurement: Option[String],
                                  field: Option[String], bucketMs: Long,
                                  specs: Seq[InfluxScan.AggSpec],
                                  groupCols: Seq[String] = Nil,
                                  tagEq: Seq[(String, Seq[String])] = Nil,
                                  tagRegex: Seq[(String, String)] = Nil,
                                  bucketOffsetMs: Long = 0L)
    extends LeafExecNode {

  override protected def doExecute(): RDD[InternalRow] = {
    val shards: Seq[(Long, Option[Long])] = stopMs match {
      // contradictory range: zero buckets IS the grouped empty answer
      case Some(stop) if stop <= startMs => Nil
      case Some(stop) =>
        InfluxScan.splitRange(startMs, stop, readPartitions)
      case None => Seq((startMs, None))
    }
    if (shards.isEmpty)
      return sparkContext.emptyRDD[InternalRow]
    val (lcfg, lspecs, lbucket, lm, lf, lg, lt, lre, loff) =
      (cfg, specs, bucketMs, measurement, field, groupCols, tagEq, tagRegex,
        bucketOffsetMs)
    sparkContext.parallelize(shards, shards.length).flatMap { case (s, e) =>
      InfluxRollup.partials(lcfg, lspecs, lbucket, s, e, lm, lf, lg, lt, lre,
        loff)
    }
  }

  override def simpleStringWithNodeId(): String = {
    val grp = if (groupCols.isEmpty) "" else s" group=${groupCols.mkString(",")}"
    val off = if (bucketOffsetMs == 0L) "" else s" offset=${bucketOffsetMs}ms"
    s"InfluxBucketRollup every=${bucketMs}ms$off$grp specs=${specs.mkString(",")}"
  }
}
