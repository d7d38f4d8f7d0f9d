package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.DoubleType
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
    /** Registers SQL function `name`, rejecting a call with other than
      * `arity` arguments ("<name> expects <expects>, got <n><unit>"). */
    def checked(name: String, info: ExpressionInfo, arity: Int = 1,
        expects: String = "exactly 1 argument", unit: String = "")(
        build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), info,
        (children: Seq[Expression]) => {
          if (children.length != arity)
            throw new IllegalArgumentException(
              s"$name expects $expects, got ${children.length}$unit")
          build(children)
        }))
    ext.injectFunction(
      (FunctionIdentifier("vec_dot"), VecDot.info,
        (children: Seq[Expression]) => VecDot(children(0), children(1))))
    // Unicode NFC canonicalization — same spelling as DuckDB's built-in,
    // so oracle twins share the SQL text verbatim
    checked("nfc_normalize", NfcNormalize.info)(c => NfcNormalize(c.head))
    // portable HLL sketch aggregate (the analyzer wraps the returned
    // AggregateFunction into an AggregateExpression)
    checked("hll_md5", HllMd5.info)(c => HllMd5(c.head))
    // KMV / bottom-k distinct sketch — the set-operation-capable sibling
    // of hll_md5 (union/intersection/Jaccard estimates from merged
    // sketches)
    checked("kmv_md5", KmvMd5.info)(c => KmvMd5(c.head))
    // t-digest quantile sketch (the reference's quantileTDigest analog);
    // the percentage is cast to DOUBLE so the natural spelling
    // tdigest_quantile(col, 0.5) works — Spark parses 0.5 as DECIMAL(1,1)
    checked("tdigest_quantile", TDigestQuantile.info, 2, "(col, q)", " args")(
      c => TDigestQuantile(c(0), Cast(c(1), DoubleType)))
    // count-min frequency sketch (heavy hitters without a vocabulary
    // shuffle)
    checked("cms_md5", CountMinMd5.info)(c => CountMinMd5(c.head))
    // bloom membership filter (runtime semi-join pruning without a
    // build-side shuffle)
    checked("bloom_md5", BloomMd5.info)(c => BloomMd5(c.head))
    // native as-of join: custom logical node → AsOfJoinExec (the
    // custom-operator ladder's SparkPlan rung)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // adaptive re-plan: finish a query whose materialized stage is small
    // in one partition (no range exchange, no sampling job)
    ext.injectRuntimeOptimizerRule(_ => graft.plans.SmallResultMerge)
  }
}
