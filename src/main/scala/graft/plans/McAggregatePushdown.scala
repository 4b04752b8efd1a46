package graft.plans

import graft.sources.{
  CsvPayload, FourMcFileFormat, FourMcStatsFileFormat, ManifestFileIndex, RuntimeKeyFilter
}

import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, AttributeReference, BinaryComparison, Coalesce, EqualNullSafe, EqualTo, Expression,
  IsNotNull, Literal, NamedExpression
}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Complete, Count, Max, Min, Sum
}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{
  Decimal, DecimalType, DoubleType, FloatType, LongType, StructType
}

/** MIN/MAX/SUM/COUNT aggregate pushdown from 4mc zone maps — the planner
  * rule that makes `SELECT min(ts), max(ts), sum(qty), count(*) FROM t`
  * a footer sweep instead of a full scan (parquet answers the same shapes
  * from row-group metadata via its aggregate pushdown; the 4mc analog is
  * the per-block stats segment, `graft/format/BlockStats.scala`).
  *
  * Matches an aggregate whose every output is `min(col)`, `max(col)`,
  * `sum(col)` (from v2 per-block sums: wrapping-long for integer columns —
  * bit-exact vs a plain LEGACY-mode scan — row-ordered double for
  * double/float; v1 segments decode per line instead),
  * `count(*)`, `count(col)` (non-null count, from the stats segment's exact
  * per-block null counts), or a grouping-column passthrough, over a 4mc csv
  * scan, with at least one non-`count(*)` aggregate (a bare COUNT(*)
  * already has the metadata-count fast path in the row/vectorized readers).
  * Grouping is allowed on bare PARTITION columns (each block belongs to
  * exactly one partition directory, so per-block stats rows group exactly);
  * a Filter below the aggregate is allowed when every conjunct either
  * touches only partition columns (partition pruning commutes with the
  * stats relation — both scan the same pruned file set) or passes
  * [[pushable]] (`MIN(ts) WHERE ts >= X`): those push into the stats
  * relation as `sources.Filter`s, which it decides by the block verdicts
  * and line check every 4mc reader uses — the stats row for blocks the
  * zone maps certify, no row for blocks they (or a bloom) refute, decode
  * and re-check for the rest.
  * Rewrites the child to a
  * [[FourMcStatsFileFormat]] relation that emits one `(min…, max…, nn…,
  * cnt)` row per owned BLOCK from the footer stats — falling back to
  * per-line decode only for blocks whose stats cannot answer exactly
  * (NaN-poisoned doubles, truncated string bounds, stats-off files) — and
  * the aggregate to `min(min)`/`max(max)`/`coalesce(sum(nn|cnt), 0)`,
  * preserving the original output names and exprIds so the query's schema
  * is untouched.
  *
  * Refuses: data-column grouping, non-partition filters, distinct/
  * agg-filtered aggregates, min/max over partition columns, permissive
  * scans (corrupt-block skipping changes counts), scans with a runtime key
  * filter (its semi-join semantics don't commute with an aggregate),
  * non-csv payloads. Disable with `spark.graft.fourmc.aggPushdown=false`.
  */
object McAggregatePushdown extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(groups, aggExprs, child, _)
        if enabled && groups.forall(_.isInstanceOf[AttributeReference]) =>
      destructure(child)
        .flatMap { case (lr, filterCond) =>
          tryRewrite(groups.map(_.asInstanceOf[AttributeReference]), aggExprs, lr, filterCond)
        }
        .getOrElse(agg)
  }

  private def enabled: Boolean =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.fourmc.aggPushdown", "true").toBoolean

  /** Gate for the zero-task COUNT(*) rewrite from manifest exact line
    * totals. IDENTITY ASSUMPTION (r16 advice): a manifest entry matches a
    * file by `(relative path, length, modification time)` — the same
    * convention Spark's own file index and every incremental system on HDFS
    * relies on. Every OTHER manifest consumer is self-correcting under a
    * stale match (pruning verdicts are re-checked by Spark's filters above
    * the scan), but THIS path turns a stale match into a wrong answer: a
    * data file rewritten in place to the identical byte length within the
    * filesystem's mtime granularity (typically 1 s local, 1 ms HDFS) would
    * be counted from the old entry. That requires an in-place overwrite —
    * not the tmp+rename pattern every committer here uses — plus a length
    * collision inside the granularity window. Deployments that rewrite
    * files in place should set this to false.
    */
  private def manifestCountEnabled: Boolean =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.fourmc.manifestCount", "true").toBoolean

  /** Exact row total of the relation from its directory manifests, or None
    * unless EVERY listed data file is matched by identity — stale or
    * partial coverage (new files, stats-less files) refuses, keeping the
    * per-file metadata-count path. Matching is per ROOT: a file consults
    * only the manifest of the root it lives under, so identical
    * (rel, len, mtime) triples across roots can never cross-match.
    */
  private def manifestExactCount(fsRel: HadoopFsRelation): Option[Long] = {
    try {
      val rootUris = fsRel.location.rootPaths.map(_.toUri)
      val manifests = fsRel.location.rootPaths.flatMap(r =>
        ManifestFileIndex.load(r, fsRel.sparkSession).map(r.toUri -> _)).toMap
      if (manifests.isEmpty) return None
      var total = 0L
      fsRel.location.listFiles(Nil, Nil).foreach(_.files.foreach { f =>
        if (FourMcFileFormat.accepts(f.getPath, fsRel.options)) {
          val entry = ManifestFileIndex.entryKey(rootUris, f)
            .flatMap { case (root, key) => manifests.get(root).flatMap(_.byKey.get(key)) }
            .getOrElse(return None)
          total += entry.lineCountExact
        }
      })
      Some(total)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def dictEnabled: Boolean =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.fourmc.dictAggPushdown", "true").toBoolean

  /** One-footer driver probe: does the FIRST data file's stats segment carry
    * v4 dict histograms for `col` on at least half of its value-bearing
    * blocks?  O(1) per query (not per file); the footer comes through the
    * shared index cache ([[FourMcFileFormat.footerIndex]]), so the probe,
    * the driver-side aggregate and the tasks read each footer once.
    * Refusal keeps the vectorized scan — a high-cardinality column would
    * otherwise decode every block through the slower per-line fallback.
    */
  private def probeDictCoverage(fsRel: HadoopFsRelation, cols: Seq[Int]): Boolean = {
    try {
      val status = fsRel.location.listFiles(Nil, Nil).iterator
        .flatMap(_.files.iterator)
        .find(f => FourMcFileFormat.accepts(f.getPath, fsRel.options))
        .getOrElse(return false)
      val file = org.apache.spark.sql.execution.PartitionedFileUtil.getPartitionedFile(
        status, status.getPath, org.apache.spark.sql.catalyst.InternalRow.empty, 0, status.getLen)
      val conf = fsRel.sparkSession.sessionState.newHadoopConfWithOptions(fsRel.options)
      FourMcFileFormat.footerIndex(file, conf).stats match {
        case Some(st) if st.nCols == fsRel.dataSchema.length =>
          // single column: v4 per-column histograms on ≥ half the
          // value-bearing blocks; pair: v5 JOINT histograms on ≥ half
          // the line-bearing blocks (joints cover nulls too)
          var covered = 0
          var withVals = 0
          var b = 0
          while (b < st.nBlocks) {
            if (cols.length == 2) {
              if (st.lineCount(b) > 0) {
                withVals += 1
                if (st.jointAt(b, cols(0), cols(1)) != null) covered += 1
              }
            } else {
              val k = b * st.nCols + cols(0)
              if (st.lineCount(b) - st.nullCount(k) > 0) {
                withVals += 1
                if (st.dictCountsAt(k) != null) covered += 1
              }
            }
            b += 1
          }
          withVals > 0 && covered * 2 >= withVals
        case _ => false
      }
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  /** Rewrite `Aggregate` over a dict-covered string column to the stats
    * relation's dict-group mode: count(*) → Sum(_cnt), count(g) →
    * Sum(_nn_g), min/max(g) → Min/Max(g), count(distinct g) stays a
    * distinct count — all multiplicity-insensitive over the per-(block,
    * entry) rows, so blocks answered from histograms and blocks decoded
    * per line compose exactly.
    */
  private def tryDictGroupRewrite(
      groups: Seq[AttributeReference],
      aggExprs: Seq[NamedExpression],
      lr: LogicalRelation,
      fsRel: HadoopFsRelation,
      dataSchema: org.apache.spark.sql.types.StructType,
      origPartAttrs: Seq[AttributeReference],
      partFilter: Option[Expression],
      dictCols: Seq[Int],
      dataFilters: Seq[sources.Filter]): Option[LogicalPlan] = {
    val groupSet = org.apache.spark.sql.catalyst.expressions.AttributeSet(groups)
    val cols = dictCols.sorted // relation layout order (groupSchema normalizes too)
    val gOrigs: Seq[AttributeReference] = cols.map { c =>
      val gName = dataSchema.fields(c).name
      lr.output.collectFirst {
        case a: AttributeReference if a.name == gName => a
      }.getOrElse(return None)
    }

    sealed trait GReq
    case object GCnt extends GReq               // count(*) / count(non-null literal)
    case class GNn(g: Int) extends GReq         // count(g) — g indexes `cols`
    case class GMin(g: Int) extends GReq
    case class GMax(g: Int) extends GReq
    case class GDistinct(g: Int) extends GReq   // count(distinct g)
    sealed trait Out
    case class Pass(ne: NamedExpression) extends Out
    case class Agg(al: Alias, req: GReq) extends Out
    def gOf(c: Expression): Int = c match {
      case a: AttributeReference => gOrigs.indexWhere(_.exprId == a.exprId)
      case _                     => -1
    }
    val outs: Seq[Out] = aggExprs.map {
      case a: AttributeReference if groupSet.contains(a) => Pass(a)
      case al @ Alias(a: AttributeReference, _) if groupSet.contains(a) => Pass(al)
      case al @ Alias(ae: AggregateExpression, _) if ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(c)) if ae.isDistinct && gOf(c) >= 0 => Agg(al, GDistinct(gOf(c)))
          case _ if ae.isDistinct                       => return None
          case Count(Seq(Literal(v, _))) if v != null   => Agg(al, GCnt)
          case Count(Seq(c)) if gOf(c) >= 0             => Agg(al, GNn(gOf(c)))
          case Min(c) if gOf(c) >= 0                    => Agg(al, GMin(gOf(c)))
          case Max(c) if gOf(c) >= 0                    => Agg(al, GMax(gOf(c)))
          case _                                        => return None
        }
      case _ => return None
    }
    val reqs = outs.collect { case a: Agg => a }
    if (reqs.isEmpty) return None

    val schema = FourMcStatsFileFormat.groupSchema(dataSchema, cols)
    val newRel = fsRel.copy(
      dataSchema = schema,
      location = manifestLocation(fsRel, dataFilters),
      fileFormat = new FourMcStatsFileFormat(dataSchema, dataFilters, cols))(fsRel.sparkSession)
    val nnAttrs: Seq[AttributeReference] =
      cols.map(c => AttributeReference(s"_nn_$c", LongType, nullable = false)())
    val cntAttr = AttributeReference("_cnt", LongType, nullable = false)()
    // the group fields reuse the ORIGINAL attributes (same exprIds), so the
    // Aggregate's grouping keys and value aggregates resolve untouched
    val newLr = LogicalRelation(newRel, (gOrigs ++ nnAttrs :+ cntAttr) ++ origPartAttrs,
      None, isStreaming = false, stream = None)

    val newAggs: Seq[NamedExpression] = outs.map {
      case Pass(ne) => ne
      case Agg(al, req) =>
        val rewritten: Expression = req match {
          case GCnt =>
            Coalesce(Seq(
              AggregateExpression(Sum(cntAttr), Complete, isDistinct = false),
              Literal(0L, LongType)))
          case GNn(g) =>
            Coalesce(Seq(
              AggregateExpression(Sum(nnAttrs(g)), Complete, isDistinct = false),
              Literal(0L, LongType)))
          case GMin(g) => AggregateExpression(Min(gOrigs(g)), Complete, isDistinct = false)
          case GMax(g) => AggregateExpression(Max(gOrigs(g)), Complete, isDistinct = false)
          case GDistinct(g) =>
            AggregateExpression(Count(Seq(gOrigs(g))), Complete, isDistinct = true)
        }
        Alias(rewritten, al.name)(exprId = al.exprId, qualifier = al.qualifier,
          explicitMetadata = Some(al.metadata))
    }
    val newChild: LogicalPlan = partFilter.map(Filter(_, newLr)).getOrElse(newLr)
    Some(Aggregate(groups, newAggs, newChild))
  }

  /** Strip attr-only Projects and deterministic Filters off the scan;
    * collects at most the conjunction of the filters seen (all must later
    * prove partition-only).
    */
  private def destructure(p: LogicalPlan): Option[(LogicalRelation, Option[Expression])] =
    p match {
      case lr: LogicalRelation => Some((lr, None))
      case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        destructure(c)
      case Filter(cond, c) if cond.deterministic =>
        destructure(c).map { case (lr, f) =>
          (lr, Some(f.map(org.apache.spark.sql.catalyst.expressions.And(_, cond)).getOrElse(cond)))
        }
      case _ => None
    }

  /** One requested aggregate: Min/Max/Sum(col) / Count(*) / Count(col). */
  private sealed trait Req
  private case class ReqMin(col: Int) extends Req
  private case class ReqMax(col: Int) extends Req
  private case class ReqNn(col: Int) extends Req
  private case class ReqSum(col: Int,
      ctx: org.apache.spark.sql.catalyst.expressions.NumericEvalContext) extends Req
  private case class ReqAvg(col: Int) extends Req
  private case object ReqCnt extends Req

  private def tryRewrite(
      groups: Seq[AttributeReference],
      aggExprs: Seq[NamedExpression],
      lr: LogicalRelation,
      filterCond: Option[Expression]): Option[LogicalPlan] = {
    val fsRel = lr.relation match {
      case r: HadoopFsRelation if r.fileFormat.isInstanceOf[FourMcFileFormat] => r
      case _ => return None
    }
    val opts = fsRel.options
    if (opts.getOrElse("payload", "text") != "csv") return None
    if (!opts.getOrElse("blockStats", "true").toBoolean) return None
    if (opts.get("ignoreCorruptBlocks").exists(_.toBoolean)) return None
    if (opts.contains(RuntimeKeyFilter.OptionKey)) return None

    val dataSchema = fsRel.dataSchema
    val partNames = fsRel.partitionSchema.fieldNames.toSet
    // the ORIGINAL relation's partition attributes, exprIds intact: group
    // exprs, partition filters, and group-column passthroughs keep
    // resolving against the rewritten relation
    val origPartAttrs: Seq[AttributeReference] =
      lr.output.collect { case a: AttributeReference if partNames.contains(a.name) => a }
    val partAttrSet = org.apache.spark.sql.catalyst.expressions.AttributeSet(origPartAttrs)

    // Dict-group mode (r16, two-column r17): grouping may additionally
    // include up to TWO data columns — STRING columns answered from v4
    // per-column histograms (one column) or v5 JOINT histograms (two: q1's
    // `GROUP BY returnflag, linestatus` shape) — zero blocks decompressed
    // on covered files. A COUNT(DISTINCT strcol) rides the same relation
    // whether or not its column is a grouping key, as long as group ∪
    // distinct columns stay within the two dict-answerable slots.
    val dataGroups = groups.filterNot(partAttrSet.contains)
    if (dataGroups.length > 2) return None
    def stringColOf(a: AttributeReference): Option[Int] =
      if (partNames.contains(a.name)) None
      else {
        val i = dataSchema.fieldNames.indexOf(a.name)
        if (i < 0) None
        else scala.util.Try(graft.sources.CsvPayload.tagOf(dataSchema.fields(i).dataType))
          .toOption.filter(_ == graft.sources.CsvPayload.TagString).map(_ => i)
      }
    val groupCols: Seq[Int] =
      dataGroups.map(a => stringColOf(a).getOrElse(return None))
    // any DISTINCT aggregate forces dict mode (the non-group path refuses
    // them): only unfiltered COUNT(DISTINCT strcol) is supported
    val distinctCols: Seq[Int] = aggExprs.flatMap {
      case Alias(ae: AggregateExpression, _) if ae.isDistinct =>
        if (ae.filter.nonEmpty) return None
        ae.aggregateFunction match {
          case Count(Seq(a: AttributeReference)) =>
            Seq(stringColOf(a).getOrElse(return None))
          case _ => return None
        }
      case _ => Nil
    }
    val dictCols: Seq[Int] = (groupCols ++ distinctCols).distinct
    if (dictCols.length > 2) return None
    if (dictCols.nonEmpty) {
      // Filters compose (r17): partition conjuncts stay a logical Filter
      // above the rewritten relation (directory pruning commutes); data
      // conjuncts push into the stats format, which emits histogram rows
      // for blocks the zone maps certify, skips refuted blocks, and decodes
      // + re-checks only the rest — `GROUP BY returnflag WHERE shipdate >=
      // X` is footer-only on the all-pass span of a sorted table. A data
      // conjunct that is not [[pushable]] refuses the rewrite.
      val conjuncts0 = filterCond.map(splitConjunction).getOrElse(Nil)
      val (partConj0, dataConj0) = conjuncts0.partition(_.references.subsetOf(partAttrSet))
      val dictFilters = pushedFilters(dataConj0, dataSchema, partNames).getOrElse(return None)
      if (!dictEnabled) return None
      if (!probeDictCoverage(fsRel, dictCols.sorted)) return None
      return tryDictGroupRewrite(groups, aggExprs, lr, fsRel, dataSchema,
        origPartAttrs, partConj0.reduceOption(And.apply), dictCols, dictFilters)
    }

    // grouping only by partition columns
    if (!groups.forall(partAttrSet.contains)) return None
    // Filters: partition conjuncts stay a logical Filter above the stats
    // relation (directory pruning commutes — both scans list the same
    // pruned file set). DATA conjuncts must each be [[pushable]]; they're
    // pushed into the stats format, which gives every owned block the
    // shared verdict: certified (stats row), refuted (skipped), or neither
    // (decoded + re-checked per line). Any conjunct that is not pushable
    // refuses the whole rewrite — the normal scan's own block pruning
    // handles it instead.
    val conjuncts = filterCond.map(splitConjunction).getOrElse(Nil)
    val (partConj, dataConj) = conjuncts.partition(_.references.subsetOf(partAttrSet))
    val dataFilters = pushedFilters(dataConj, dataSchema, partNames).getOrElse(return None)
    val partFilter: Option[Expression] = partConj.reduceOption(And.apply)
    val groupSet = org.apache.spark.sql.catalyst.expressions.AttributeSet(groups)

    def colOf(e: Expression): Option[Int] = e match {
      case a: AttributeReference if !partNames.contains(a.name) =>
        val i = dataSchema.fieldNames.indexOf(a.name)
        if (i < 0) None
        else scala.util.Try(graft.sources.CsvPayload.tagOf(dataSchema.fields(i).dataType))
          .toOption
          // array columns carry no zone/sum stats (hasBounds=false by
          // construction) and the stats relation's per-line decode fallback
          // doesn't parse them — refuse, keep the normal scan
          .filter(t => !graft.sources.CsvPayload.isArrayTag(t))
          .map(_ => i)
      case _ => None
    }

    // every output must be a grouping-column passthrough or an
    // Alias(AggregateExpression(min/max/count)) — any other shape
    // (expressions over aggregates, distinct, agg filters, other
    // functions) keeps the normal scan
    sealed trait Out
    case class Pass(ne: NamedExpression) extends Out
    case class Agg(al: Alias, req: Req) extends Out
    val outs: Seq[Out] = aggExprs.map {
      case a: AttributeReference if groupSet.contains(a) => Pass(a)
      case al @ Alias(a: AttributeReference, _) if groupSet.contains(a) => Pass(al)
      case al @ Alias(ae: AggregateExpression, _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Min(c)                    => colOf(c).map(i => Agg(al, ReqMin(i))).getOrElse(return None)
          case Max(c)                    => colOf(c).map(i => Agg(al, ReqMax(i))).getOrElse(return None)
          // non-null literal only: COUNT(NULL) is 0, not the row count.
          // NullPropagation folds it earlier today, but relying on batch
          // ordering would be an implicit dependency — guard locally.
          case Count(Seq(Literal(v, _))) if v != null => Agg(al, ReqCnt)
          case Count(Seq(c))             => colOf(c).map(i => Agg(al, ReqNn(i))).getOrElse(return None)
          // SUM from v2 per-block sums (`BlockStats`): integer columns store
          // overflow-checked exact long sums (an overflowing block stores no
          // sum and decodes instead), double/float the row-ordered double
          // sum, so re-summing the block partials IS the partial-then-combine
          // arithmetic Spark's own hash aggregate runs — valid under LEGACY
          // and ANSI alike (the rewritten Sum keeps the original eval
          // context, so ANSI combine overflow still errors). TRY mode is
          // refused (null-on-overflow needs the scan's own TrySum). Old v1
          // segments have no sums — those blocks decode per line
          // (statsUsable gates on FlagHasSum), staying value-exact.
          // Decimal children (r13 verdict #3): blocks store EXACT unscaled
          // long sums (overflow-poisoned blocks decode instead), emitted by
          // the stats relation as DecimalType(p+10, s) partials — always
          // representable, since a block's sum has at most p+7 digits. The
          // rewrite re-sums the partials under the original eval context and
          // casts back to Sum's own result type DecimalType(p+10, s): the
          // cast overflows (ANSI error / LEGACY null) exactly when the plain
          // scan's Sum would have.
          case s: Sum if s.evalContext.evalMode !=
              org.apache.spark.sql.catalyst.expressions.EvalMode.TRY =>
            colOf(s.child).filter { i =>
              val t = graft.sources.CsvPayload.tagOf(dataSchema.fields(i).dataType)
              graft.format.BlockStats.sumKindOf(t) != 0
            }.map(i => Agg(al, ReqSum(i, s.evalContext))).getOrElse(return None)
          // AVG over a double/float column decomposes into Sum(_sum)/Sum(_nn)
          // — the SAME Divide-of-double-sum-by-count Average's own
          // evaluateExpression runs, so the arithmetic shape is preserved.
          // Integral children are refused: Average accumulates their sum as
          // a per-row DOUBLE, which our exact long block sums don't mirror
          // bit-for-bit (SUM/COUNT cover that shape exactly instead).
          case org.apache.spark.sql.catalyst.expressions.aggregate.Average(c, evalMode)
              if evalMode != org.apache.spark.sql.catalyst.expressions.EvalMode.TRY =>
            colOf(c).filter { i =>
              val t = graft.sources.CsvPayload.tagOf(dataSchema.fields(i).dataType)
              t == graft.sources.CsvPayload.TagDouble || t == graft.sources.CsvPayload.TagFloat
            }.map(i => Agg(al, ReqAvg(i))).getOrElse(return None)
          case _                         => return None
        }
      case _ => return None
    }
    val reqs: Seq[(Alias, Req)] = outs.collect { case Agg(al, r) => (al, r) }
    if (reqs.isEmpty) return None
    // all-COUNT(*) requests WITHOUT a data filter: the reader metadata-count
    // fast path already answers them (including grouped-by-partition and
    // partition-filtered forms — empty projection + constant partition
    // vectors). With a data filter the fast path doesn't apply, and the
    // stats route still skips decoding every wholly-inside block.
    if (dataFilters.isEmpty && reqs.forall(_._2 == ReqCnt)) {
      // r16: a bare, unfiltered, ungrouped COUNT(*) collapses further when
      // a directory manifest FULLY covers the listed files — from one
      // footer task per file to ZERO tasks: Σ exact per-file line totals,
      // matched by (path, len, modTime) so any content change refuses.
      if (groups.isEmpty && filterCond.isEmpty && manifestCountEnabled &&
          !fsRel.options.get("acceptAnyExtension").exists(_.toBoolean)) {
        manifestExactCount(fsRel).foreach { total =>
          val attrs = outs.map {
            case Agg(al, ReqCnt) => al.toAttribute
            case _               => return None
          }
          // a local relation: collected on the driver with no Spark job
          return Some(org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
            attrs, Seq(org.apache.spark.sql.catalyst.InternalRow.fromSeq(attrs.map(_ => total)))))
        }
      }
      return None
    }

    // build the synthetic stats relation
    val boundReqs = reqs.map(_._2).collect { case ReqMin(i) => i; case ReqMax(i) => i }
    val cols = boundReqs.distinct.sorted
    val targets = cols.map { i =>
      (i, reqs.exists(_._2 == ReqMin(i)), reqs.exists(_._2 == ReqMax(i)))
    }
    val nnCols = reqs.map(_._2).collect {
      case ReqNn(i) => i
      case ReqAvg(i) => i // AVG divides by the non-null count
    }.distinct.sorted
    val sumCols = reqs.map(_._2).collect {
      case ReqSum(i, _) => i
      case ReqAvg(i) => i
    }.distinct.sorted
    val schema = FourMcStatsFileFormat.statsSchema(dataSchema, targets, nnCols, sumCols)
    val newRel = fsRel.copy(
      dataSchema = schema,
      location = manifestLocation(fsRel, dataFilters),
      fileFormat = new FourMcStatsFileFormat(dataSchema, dataFilters))(fsRel.sparkSession)
    val dataAttrs: Seq[AttributeReference] =
      schema.fields.map(f => AttributeReference(f.name, f.dataType, f.nullable)()).toSeq
    val newLr = LogicalRelation(newRel, dataAttrs ++ origPartAttrs, None,
      isStreaming = false, stream = None)
    def attr(name: String): AttributeReference = dataAttrs.find(_.name == name).get

    val newAggs: Seq[NamedExpression] = outs.map {
      case Pass(ne) => ne
      case Agg(al, req) =>
        val rewritten: Expression = req match {
          case ReqMin(i) =>
            AggregateExpression(Min(attr(s"_min_$i")), Complete, isDistinct = false)
          case ReqMax(i) =>
            AggregateExpression(Max(attr(s"_max_$i")), Complete, isDistinct = false)
          case ReqNn(i) =>
            // Sum is null on zero rows; COUNT of an empty group set is 0
            Coalesce(Seq(
              AggregateExpression(Sum(attr(s"_nn_$i")), Complete, isDistinct = false),
              Literal(0L, LongType)))
          case ReqSum(i, ctx) =>
            // SUM of zero rows is null — exactly Sum's own semantics, no
            // Coalesce. `_sum_<i>` is already in Sum's result domain (long
            // for int/long columns, double for double/float), so re-summing
            // the per-block partials under the ORIGINAL eval context is the
            // same arithmetic a plain scan's partial aggregation runs.
            // Decimal partials ride DecimalType(p+10, s); the outer Sum
            // widens 10 more digits, so cast back to the original result
            // type — overflow there (ANSI error / LEGACY null) reproduces
            // the plain scan's own overflow point.
            val inner = AggregateExpression(Sum(attr(s"_sum_$i"), ctx), Complete, isDistinct = false)
            if (dataSchema.fields(i).dataType
                .isInstanceOf[org.apache.spark.sql.types.DecimalType])
              org.apache.spark.sql.catalyst.expressions.Cast(
                inner, al.child.dataType, None,
                if (ctx.evalMode == org.apache.spark.sql.catalyst.expressions.EvalMode.ANSI)
                  org.apache.spark.sql.catalyst.expressions.EvalMode.ANSI
                else org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)
            else inner
          case ReqAvg(i) =>
            // Average(double) evaluates as Divide(double sum, count, LEGACY)
            // internally — mirror it over the block partials. All-null input:
            // Sum(_sum) is null → null, matching AVG's empty/all-null result.
            org.apache.spark.sql.catalyst.expressions.Divide(
              AggregateExpression(Sum(attr(s"_sum_$i")), Complete, isDistinct = false),
              org.apache.spark.sql.catalyst.expressions.Cast(
                Coalesce(Seq(
                  AggregateExpression(Sum(attr(s"_nn_$i")), Complete, isDistinct = false),
                  Literal(0L, LongType))),
                org.apache.spark.sql.types.DoubleType),
              org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)
          case ReqCnt =>
            Coalesce(Seq(
              AggregateExpression(Sum(attr("_cnt")), Complete, isDistinct = false),
              Literal(0L, LongType)))
        }
        Alias(rewritten, al.name)(exprId = al.exprId, qualifier = al.qualifier,
          explicitMetadata = Some(al.metadata))
    }
    val newChild: LogicalPlan = partFilter.map(Filter(_, newLr)).getOrElse(newLr)
    Some(Aggregate(groups, newAggs, newChild))
  }

  private def splitConjunction(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjunction(l) ++ splitConjunction(r)
    case other     => Seq(other)
  }

  /** The stats relation's file listing, composed with directory-manifest
    * FILE pruning: the relation decides its data filters inside the
    * format, so its scan has no plan-level filters to hand the index —
    * they travel statically instead ([[ManifestFileIndex]]). Fully refuted
    * files never launch a task, pushdown or not.
    */
  private def manifestLocation(
      fsRel: HadoopFsRelation, dataFilters: Seq[sources.Filter]): FileIndex = {
    val underlying = fsRel.location match {
      case m: ManifestFileIndex => m.underlying
      case other                => other
    }
    val pruningOn = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.fourmc.manifestPruning", "true").toBoolean
    if (!pruningOn || dataFilters.isEmpty) underlying
    else new ManifestFileIndex(underlying, fsRel.dataSchema, fsRel.sparkSession, dataFilters)
  }

  /** The data conjuncts as the `sources.Filter`s the stats relation takes,
    * or None when one of them is not [[pushable]].
    */
  private def pushedFilters(
      dataConj: Seq[Expression],
      dataSchema: StructType,
      partNames: Set[String]): Option[Seq[sources.Filter]] =
    Some(dataConj.map { c =>
      (if (pushable(c, dataSchema, partNames)) ManifestFileIndex.translate(c) else None)
        .getOrElse(return None)
    })

  /** Does the stats relation decide this data conjunct exactly? It has no
    * Spark Filter above it, so both of its checks must decide every line:
    * the block verdicts ([[graft.format.McStatsPruning]]) and the line
    * check ([[CsvPayload.compileFilters]]). Admitted: a comparison or IS
    * NOT NULL on a bare data column that is not a string, array or map,
    * against a non-null literal of the column's own type. Refused besides:
    *  - a decimal literal off the column's scale: both checks compare
    *    unscaled longs on the column's scale, which such a literal may not
    *    have (the line check would then drop the conjunct);
    *  - double/float equality: a pushed `d = 0.0` must also match -0.0
    *    (Spark's SQL order), and no fixture pins that shape through this
    *    relation, so it keeps the plain plan.
    * String bounds may be 16-byte truncations, and the plain scan's
    * pruning already handles them; array and map columns carry no zones,
    * and the line check compiles nothing on them.
    */
  private def pushable(e: Expression, dataSchema: StructType, partNames: Set[String]): Boolean = {
    def column(a: AttributeReference): Option[Int] =
      Some(dataSchema.fieldNames.indexOf(a.name)).filter { i =>
        i >= 0 && !partNames.contains(a.name) &&
          scala.util.Try(CsvPayload.tagOf(dataSchema.fields(i).dataType)).toOption.exists(t =>
            t != CsvPayload.TagString && t != CsvPayload.TagMap && !CsvPayload.isArrayTag(t))
      }
    def comparable(a: AttributeReference, lit: Literal, equality: Boolean): Boolean =
      column(a).exists { i =>
        (dataSchema.fields(i).dataType, lit.value) match {
          case (_, null)                               => false
          case (DoubleType | FloatType, _) if equality => false
          case (t: DecimalType, d: Decimal)            => d.scale == t.scale
          case (t, _)                                  => t == lit.dataType
        }
      }
    e match {
      case IsNotNull(a: AttributeReference) => column(a).isDefined
      case _: EqualNullSafe                 => false
      case c @ BinaryComparison(a: AttributeReference, l: Literal) =>
        comparable(a, l, c.isInstanceOf[EqualTo])
      case c @ BinaryComparison(l: Literal, a: AttributeReference) =>
        comparable(a, l, c.isInstanceOf[EqualTo])
      case _ => false
    }
  }
}
