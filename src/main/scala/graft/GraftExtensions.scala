package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSimilarityExpr, DotProductExpr, FrequencySketch, MediaHeaderExpr, ProtoStructExpr}

/** Cluster-wide registration of graft's native functions:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * makes `vec_dot` / `vec_cosine` available in every session's SQL without
  * per-session temp-function calls (the production counterpart of
  * [[graft.functions.VectorFunctions.register]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // MIN/MAX/COUNT(*) from 4mc footer zone maps (parquet-style aggregate
    // pushdown); disable with spark.graft.fourmc.aggPushdown=false
    ext.injectOptimizerRule(_ => graft.plans.McAggregatePushdown)
    // small metadata-selective reads (footer-answered and filtered
    // aggregates, pruned lookups) run on the driver, with no Spark job,
    // while their file list and the lines they must decode stay small
    ext.injectPlannerStrategy(_ => graft.plans.McDriverScanStrategy)
    // join-driven 4mc block pruning: broadcast-small build sides inject a
    // RuntimeKeyFilter into the probe scan (the fact-side analog of DPP);
    // disable with spark.graft.fourmc.runtimeKeyFilter.inject=false.
    // Registered PRE-CBO (a Once batch, after operator optimization) — NOT
    // as an operator-optimization rule: the rule runs an eager key-collect
    // job, and a fixpoint batch would re-execute it on every iteration
    // (measured 21 jobs vs 5 on a refused injection in r10).
    ext.injectPreCBORule(_ => graft.plans.McInjectRuntimeKeyFilter)
    // driver-side FILE pruning from the _graft_manifest sidecar: tasks
    // become proportional to surviving files on selective predicates;
    // disable with spark.graft.fourmc.manifestPruning=false
    ext.injectPreCBORule(_ => graft.plans.McApplyManifest)
    // option("sortBy", "col"): sort-clustered 4mc writes via a range
    // shuffle + local sort injected into the V1 write command; disable
    // with spark.graft.fourmc.sortedWrite.enabled=false
    ext.injectPreCBORule(_ => graft.plans.McSortedWrite)
    // option("manifest", "true"): write/refresh the directory pruning
    // manifest at job commit — AFTER McSortedWrite in the same batch, so a
    // sortBy+manifest write is clustered first, then wrapped; disable with
    // spark.graft.fourmc.manifestOnWrite.enabled=false
    ext.injectPreCBORule(_ => graft.plans.McManifestOnWrite)
    ext.injectFunction(
      (
        FunctionIdentifier("vec_dot"),
        new ExpressionInfo(classOf[DotProductExpr].getName, "vec_dot"),
        (exprs: Seq[Expression]) => DotProductExpr(exprs.head, exprs(1))
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("vec_cosine"),
        new ExpressionInfo(classOf[CosineSimilarityExpr].getName, "vec_cosine"),
        (exprs: Seq[Expression]) => CosineSimilarityExpr(exprs.head, exprs(1))
      )
    )
    // proto_struct(binary, 'fieldSpec') — the spec arg must be a string literal
    ext.injectFunction(
      (
        FunctionIdentifier("proto_struct"),
        new ExpressionInfo(classOf[ProtoStructExpr].getName, "proto_struct"),
        (exprs: Seq[Expression]) =>
          ProtoStructExpr(
            exprs.head,
            exprs(1) match {
              case org.apache.spark.sql.catalyst.expressions.Literal(s, _) => s.toString
              case other =>
                throw new IllegalArgumentException(
                  s"proto_struct field spec must be a string literal, got $other")
            }
          )
      )
    )
    // media_header(binary) — byte-level JPEG/PNG/WAV header parse
    ext.injectFunction(
      (
        FunctionIdentifier("media_header"),
        new ExpressionInfo(classOf[MediaHeaderExpr].getName, "media_header"),
        (exprs: Seq[Expression]) => MediaHeaderExpr(exprs.head)
      )
    )
    // bpe_encode(tok, 'x y,er s') — greedy min-rank BPE segmentation; the
    // merge table is a string literal of comma-separated space-split pairs
    // in rank order (the serialization bpeTrain's output maps onto 1:1)
    ext.injectFunction(
      (
        FunctionIdentifier("bpe_encode"),
        new ExpressionInfo(classOf[graft.functions.BpeEncodeExpr].getName, "bpe_encode"),
        (exprs: Seq[Expression]) => {
          if (exprs.length != 2)
            throw new IllegalArgumentException(
              s"bpe_encode(tok, merges) takes 2 arguments, got ${exprs.length}")
          val spec = exprs(1) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(s, _) if s != null =>
              s.toString
            case other =>
              throw new IllegalArgumentException(
                s"bpe_encode merge table must be a non-null string literal, got $other")
          }
          val pairs = spec.split(',').filter(_.nonEmpty).map { p =>
            p.split(' ') match {
              case Array(a, b) => (a, b)
              case _ =>
                throw new IllegalArgumentException(
                  s"bpe_encode merge '$p' must be two space-separated symbols")
            }
          }
          graft.functions.BpeEncodeExpr(
            exprs.head, pairs.map(_._1), pairs.map(_._2), endMarker = false)
        }
      )
    )
    // topk_freq(col, k, capacity) — mergeable Misra-Gries heavy hitters;
    // k/capacity must be integer literals
    ext.injectFunction(
      (
        FunctionIdentifier("topk_freq"),
        new ExpressionInfo(classOf[FrequencySketch].getName, "topk_freq"),
        (exprs: Seq[Expression]) => {
          if (exprs.length != 3)
            throw new IllegalArgumentException(
              s"topk_freq(col, k, capacity) takes 3 arguments, got ${exprs.length}")
          def intLit(e: Expression, what: String): Int = e match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
            case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _)
                if v.isValidInt => v.toInt
            case other =>
              throw new IllegalArgumentException(s"topk_freq $what must be an int literal, got $other")
          }
          FrequencySketch(
            exprs.head,
            intLit(exprs(1), "k"),
            intLit(exprs(2), "capacity")
          ).toAggregateExpression()
        }
      )
    )
  }
}
