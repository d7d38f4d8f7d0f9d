package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.{BloomMd5, CountMinMd5, HllMd5, KmvMd5, NfcNormalize, TDigestQuantile, VecDot}

/** Engine extensions, installed with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`: registers
  * the native [[VecDot]] expression as SQL function `vec_dot`, making it
  * available to `spark.sql(...)` entry points alongside the Column API
  * (SURVEY §2.11 — the reference needs no UDFs; our extensions ride the
  * sanctioned SparkSessionExtensions hook rather than patching catalogs).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (FunctionIdentifier("vec_dot"), VecDot.info,
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          VecDot(children(0), children(1))))
    // portable HLL sketch aggregate (the analyzer wraps the returned
    // AggregateFunction into an AggregateExpression)
    // Unicode NFC canonicalization — same spelling as DuckDB's built-in,
    // so oracle twins share the SQL text verbatim
    ext.injectFunction(
      (FunctionIdentifier("nfc_normalize"), NfcNormalize.info,
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          if (children.length != 1)
            throw new IllegalArgumentException(
              s"nfc_normalize expects exactly 1 argument, got ${children.length}")
          NfcNormalize(children.head)
        }))
    ext.injectFunction(
      (FunctionIdentifier("hll_md5"), HllMd5.info,
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          if (children.length != 1)
            throw new IllegalArgumentException(
              s"hll_md5 expects exactly 1 argument, got ${children.length}")
          HllMd5(children.head)
        }))
    // KMV / bottom-k distinct sketch — the set-operation-capable sibling
    // of hll_md5 (union/intersection/Jaccard estimates from merged
    // sketches)
    ext.injectFunction(
      (FunctionIdentifier("kmv_md5"), KmvMd5.info,
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          if (children.length != 1)
            throw new IllegalArgumentException(
              s"kmv_md5 expects exactly 1 argument, got ${children.length}")
          KmvMd5(children.head)
        }))
    // t-digest quantile sketch (the reference's quantileTDigest analog);
    // the percentage is cast to DOUBLE so the natural spelling
    // tdigest_quantile(col, 0.5) works — Spark parses 0.5 as DECIMAL(1,1)
    ext.injectFunction(
      (FunctionIdentifier("tdigest_quantile"), TDigestQuantile.info,
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          if (children.length != 2)
            throw new IllegalArgumentException(
              s"tdigest_quantile expects (col, q), got ${children.length} args")
          TDigestQuantile(
            children(0),
            org.apache.spark.sql.catalyst.expressions.Cast(
              children(1), org.apache.spark.sql.types.DoubleType))
        }))
    // count-min frequency sketch (heavy hitters without a vocabulary
    // shuffle)
    ext.injectFunction(
      (FunctionIdentifier("cms_md5"), CountMinMd5.info,
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          if (children.length != 1)
            throw new IllegalArgumentException(
              s"cms_md5 expects exactly 1 argument, got ${children.length}")
          CountMinMd5(children.head)
        }))
    // bloom membership filter (runtime semi-join pruning without a
    // build-side shuffle)
    ext.injectFunction(
      (FunctionIdentifier("bloom_md5"), BloomMd5.info,
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          if (children.length != 1)
            throw new IllegalArgumentException(
              s"bloom_md5 expects exactly 1 argument, got ${children.length}")
          BloomMd5(children.head)
        }))
    // flag-gated percentile→sketch rewrite (SURVEY §7.5c); off by default
    ext.injectOptimizerRule(_ => graft.plans.ApproxPercentileRewrite)
    // flag-gated COUNT(DISTINCT)→HLL++ rewrite; off by default
    ext.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
    // materialized-view rewrite: answer matching aggregates from a
    // registered pre-aggregated summary instead of the fact scan
    ext.injectOptimizerRule(_ => graft.plans.SummaryRewrite)
    // native as-of join: custom logical node → AsOfJoinExec (the
    // custom-operator ladder's SparkPlan rung)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // adaptive re-plan: finish a query whose materialized stage is small
    // in one partition (no range exchange, no sampling job)
    ext.injectRuntimeOptimizerRule(_ => graft.plans.SmallResultMerge)
  }
}
