package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.Caches.Tracked

/** The composed training-data CURATION pipeline — the extension operators
  * (quality scoring q21, language-ID q22, exact dedup q20, n-gram
  * near-dup q25, hash sampling q54) chained end-to-end the way a corpus
  * actually gets built, with the per-stage surviving counts as the
  * output funnel. Mirrors the reference's per-hop count-validation
  * discipline (README.md:373-397) applied to a data pipeline rather
  * than an engine fan-out.
  *
  * Plan shape at 100 TB: stages 1–4 and 6 are stateless filters or one
  * window/aggregate each; only near-dedup pairs up documents, and it
  * does so inside (lang, source) blocks AFTER the corpus has already
  * been cut down by the cheap stages — filter-early is what makes the
  * quadratic stage affordable.
  */
object Curation {

  private val markers = Seq(
    "the", "a", "and", "of", "el", "la", "de", "que",
    "le", "les", "des", "une", "der", "die", "das", "und")

  val q60 = Q(
    "q60_curation_funnel",
    (s, d) => {
      val base = Tables.load(s, d, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast(LongType))
        .withColumn(
          "punct_cnt", expr("regexp_count(text, '[.,!?;:]')").cast(LongType))
        .persistTracked()
      // q21's quality score, as a keep-filter
      val qualPred =
        least(col("n_tokens").cast(DoubleType) / lit(100.0), lit(1.0)) *
          (lit(1.0) - col("punct_cnt").cast(DoubleType) / col("n_chars")) >
          0.5
      val quality = base.filter(qualPred)
      // q22's marker heuristic: any known-language marker present
      val langPred =
        expr("size(filter(split(text, ' '), t -> t in (" +
          markers.map(m => s"'$m'").mkString(",") + "))) > 0")
      val langp = quality.filter(langPred)
        .persistTracked()
      // q20's exact dedup: keep the smallest doc_id per content hash
      val exact = langp
        .withColumn(
          "rn",
          row_number().over(
            Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .filter(col("rn") === 1).drop("rn")
        .persistTracked()
      // q25's near-dup join — the SHARED prefix-filtered implementation
      // (Dedup.jaccardPairs), so the funnel's quadratic-risk stage gets
      // the same scale treatment as the standalone operator; keeper
      // rule: drop the larger id of each pair
      val toksets = exact
        .select(
          col("doc_id"), col("lang"), col("source"),
          array_distinct(split(col("text"), " ")).as("toks"))
        .withColumn("sz", size(col("toks")))
        .persistTracked()
      val dupIds = Dedup.jaccardPairs(toksets, 0.6)
        .select(col("doc_b").as("doc_id")).distinct()
      val near = exact.join(dupIds, Seq("doc_id"), "left_anti").persistTracked()
      // r10 (guide §2.4): the six stage counts ran as six aggregate
      // branches — six scans of the cached parents. Stages 1–3 are
      // stateless predicates over base, so ONE pass computes all three
      // (the lang marker filter evaluates only on quality-passing rows
      // — `when` is lazy per row); stages 5–6 likewise fold into one
      // pass over near. Stage 4 keeps its own branch (exact feeds the
      // dedup pipeline from its cache anyway). 6 scans → 3.
      def stageRow(ord: Int, name: String, n: org.apache.spark.sql.Column) =
        struct(lit(ord).as("stage_ord"), lit(name).as("stage"),
          n.as("n_docs"))
      val s123 = base.agg(
          count(lit(1)).as("n1"),
          sum(when(qualPred, 1L).otherwise(0L)).as("n2"),
          sum(when(qualPred, when(langPred, 1L).otherwise(0L))
            .otherwise(0L)).as("n3"))
        .select(explode(array(
          stageRow(1, "total", col("n1")),
          stageRow(2, "quality_pass", col("n2")),
          stageRow(3, "lang_known", col("n3")))).as("r"))
        .select(col("r.*"))
      val s4 = exact.agg(count(lit(1)).as("n4"))
        .select(explode(array(
          stageRow(4, "exact_dedup", col("n4")))).as("r"))
        .select(col("r.*"))
      val s56 = near.agg(
          count(lit(1)).as("n5"),
          sum(when(expr(Det.hashSampleExpr("doc_id")), 1L).otherwise(0L))
            .as("n6"))
        .select(explode(array(
          stageRow(5, "near_dedup", col("n5")),
          stageRow(6, "sampled", col("n6")))).as("r"))
        .select(col("r.*"))
      s123.unionByName(s4).unionByName(s56).orderBy(col("stage_ord"))
    },
    Some(s"""
      WITH base AS (
        SELECT doc_id, lang, source, text, n_chars,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT)
                 AS punct_cnt
        FROM documents
      ), quality AS (
        SELECT * FROM base
        WHERE least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
              * (1.0 - CAST(punct_cnt AS DOUBLE) / n_chars) > 0.5
      ), langp AS (
        SELECT * FROM quality
        WHERE len(list_filter(string_split(text, ' '),
              t -> t IN (${markers.map(m => s"'$m'").mkString(",")}))) > 0
      ), exact AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY md5(text)
                                       ORDER BY doc_id) AS rn
          FROM langp) WHERE rn = 1
      ), toksets AS (
        SELECT doc_id, lang, source,
               list_distinct(string_split(text, ' ')) AS toks
        FROM exact
      ), dup_pairs AS (
        SELECT b.doc_id AS doc_b
        FROM toksets a JOIN toksets b
          ON a.lang = b.lang AND a.source = b.source
         AND a.doc_id < b.doc_id
        WHERE CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x)))
                   AS DOUBLE)
              / (len(a.toks) + len(b.toks)
                 - len(list_filter(a.toks, x -> list_contains(b.toks, x))))
              >= 0.6
      ), near AS (
        SELECT * FROM exact
        WHERE doc_id NOT IN (SELECT doc_b FROM dup_pairs)
      ), sampled AS (
        SELECT * FROM near
        WHERE ${Det.hashSampleSql("doc_id")}
      )
      SELECT * FROM (
        SELECT 1 AS stage_ord, 'total' AS stage,
               (SELECT count(*) FROM base) AS n_docs
        UNION ALL SELECT 2, 'quality_pass', (SELECT count(*) FROM quality)
        UNION ALL SELECT 3, 'lang_known', (SELECT count(*) FROM langp)
        UNION ALL SELECT 4, 'exact_dedup', (SELECT count(*) FROM exact)
        UNION ALL SELECT 5, 'near_dedup', (SELECT count(*) FROM near)
        UNION ALL SELECT 6, 'sampled', (SELECT count(*) FROM sampled)
      ) ORDER BY stage_ord"""))

  /** Benchmark DECONTAMINATION (extension op): flag training documents
    * sharing any word 8-gram with a held-out evaluation set — the overlap
    * check every serious pretraining corpus runs before training so eval
    * numbers aren't inflated by leaked test data. The eval set here is the
    * deterministic doc_id % 10 slice; its distinct 8-grams form the probe
    * side. At 100 TB the eval-gram table is benchmark-sized (millions of
    * grams, not corpus-sized) — comfortably broadcast, which the
    * planner decides from the size estimate; the corpus side
    * streams through one explode + semi-join-shaped aggregation, no
    * corpus-wide shuffle of anything but matching grams. */
  val q71 = Q(
    "q71_decontamination",
    (s, d) => {
      val grams = Tables.load(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(
          col("doc_id"),
          explode(expr(
            """CASE WHEN size(t) >= 8 THEN
              |  array_distinct(transform(sequence(1, size(t) - 7),
              |    i -> array_join(slice(t, i, 8), ' ')))
              |ELSE array() END""".stripMargin)).as("g"))
        // read twice: eval-gram build + corpus probe
        .persistTracked()
      val bench = grams.filter(col("doc_id") % 10 === 0)
        .select(col("g")).distinct()
      grams.filter(col("doc_id") % 10 =!= 0)
        .join(bench, Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
      ), grams AS (
        SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN
          list_distinct(list_transform(range(1, len(t) - 6),
            i -> array_to_string(list_slice(t, i, i + 7), ' ')))
          ELSE [] END) AS g
        FROM toks
      ), bench AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0
      )
      SELECT doc_id, count(*) AS n_overlap
      FROM grams JOIN bench USING (g)
      WHERE doc_id % 10 != 0
      GROUP BY doc_id
      ORDER BY doc_id"""))

  /** Corpus DATACARD (extension op): the per-(source, lang) summary table
    * every released dataset ships — docs, tokens, chars, exact-duplicate
    * rate, length distribution (min/median/max via exact integer
    * percentile), and the short-doc share. One scan feeds a doc-level
    * frame (with the dup flag from a hash-groupBy join), then a single
    * grouped aggregate; everything integer-exact, the median over
    * integer token counts interpolates in exact binary arithmetic (the
    * q04 percentile discipline). */
  val q96 = Q(
    "q96_corpus_datacard",
    (s, d) => {
      val docs = Tables.load(s, d, "documents")
        .select(
          col("doc_id"), col("source"), col("lang"), col("n_chars"),
          size(split(col("text"), " ")).cast(LongType).as("toks"),
          md5(col("text")).as("h"))
        .persistTracked()
      val dupGroups = docs.groupBy(col("h"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
      docs.join(dupGroups, Seq("h"))
        .withColumn("is_dup", col("doc_id") =!= col("keeper"))
        .groupBy(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_exact_dups"),
          min(col("toks")).as("min_toks"),
          expr("percentile(toks, 0.5D)").as("med_toks"),
          max(col("toks")).as("max_toks"),
          sum(when(col("toks") < 50, 1L).otherwise(0L)).as("n_short"))
        .orderBy(col("source"), col("lang"))
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, source, lang, n_chars,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
               md5(text) AS h
        FROM documents
      ), dupg AS (
        SELECT h, count(*) AS n_copies, min(doc_id) AS keeper
        FROM docs GROUP BY h
      )
      SELECT source, lang,
             count(*) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS n_tokens,
             CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
             CAST(sum(CASE WHEN d.doc_id <> g.keeper THEN 1 ELSE 0 END)
               AS BIGINT) AS n_exact_dups,
             min(toks) AS min_toks,
             quantile_cont(toks, 0.5) AS med_toks,
             max(toks) AS max_toks,
             CAST(sum(CASE WHEN toks < 50 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_short
      FROM docs d JOIN dupg g USING (h)
      GROUP BY source, lang
      ORDER BY source, lang"""))

  /** Corpus VERSION DIFF (extension op): classify every document across
    * two corpus releases as added / removed / changed / unchanged — the
    * audit every dataset re-release ships (and the input to incremental
    * training-data refreshes). Versions are deterministic synthetic
    * slices of the fixture (v1 drops doc_id%7=0, v2 drops doc_id%5=0 and
    * rewrites text for doc_id%3=0), built identically in both engines;
    * the diff itself is ONE full-outer join on doc_id plus md5 content
    * compare — the scale shape for diffing two 100 TB snapshots (no
    * content shuffle: hashes travel, text stays columnar-pruned). The
    * per-class report value-checks membership via exact integer
    * sum(doc_id). */
  val q99 = Q(
    "q99_corpus_diff",
    (s, d) => {
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val v1 = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), md5(col("text")).as("h1"))
      val v2 = docs.filter(col("doc_id") % 5 =!= 0)
        .select(
          col("doc_id"),
          md5(when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("h2"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .withColumn(
          "status",
          when(col("h1").isNull, "added")
            .when(col("h2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "changed")
            .otherwise("unchanged"))
        .groupBy(col("status"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_doc_id"))
        .orderBy(col("status"))
    },
    Some("""
      WITH v1 AS (
        SELECT doc_id, md5(text) AS h1 FROM documents WHERE doc_id % 7 <> 0
      ), v2 AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2'
                        ELSE text END) AS h2
        FROM documents WHERE doc_id % 5 <> 0
      ), joined AS (
        SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id, h1, h2
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
      )
      SELECT CASE WHEN h1 IS NULL THEN 'added'
                  WHEN h2 IS NULL THEN 'removed'
                  WHEN h1 <> h2 THEN 'changed'
                  ELSE 'unchanged' END AS status,
             count(*) AS n_docs,
             CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
      FROM joined
      GROUP BY status
      ORDER BY status"""))

  /** MERGE / upsert applied Spark-first (the Delta-Lake MERGE INTO shape
    * without a table format): a revision batch — updates for doc_id%7==0
    * (text gains a " v2" suffix) plus inserts keyed above the corpus id
    * range for doc_id%97==0 — lands on the corpus as
    * anti-join(base, batch) ∪ batch. That is exactly what a MERGE
    * rewrites to on any engine: unmatched base rows pass through,
    * matched rows take the batch version, unmatched batch rows append.
    * Scale: one equi-join shuffle on the key (broadcast when the batch
    * is small — the planner decides from the size estimate);
    * no driver-side row handling. Output fingerprints content as md5 so
    * the oracle value-checks every merged row, not just counts. */
  val q107 = Q(
    "q107_upsert_merge",
    (s, d) => {
      val base = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"))
      // insert keys land ABOVE the observed key range (max+1 offset,
      // 1-row broadcast — never a fixed constant, which would collide
      // with base keys once the corpus outgrows it); ORDER BY carries an
      // `op` tiebreak so the output order stays total even if a future
      // fixture ever did collide (round-3 advice)
      val mx = base.agg(max(col("doc_id")).as("mx"))
      val batch = base.filter(col("doc_id") % 7 === 0)
        .select(
          col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
          lit("update").as("op"))
        .unionByName(
          base.filter(col("doc_id") % 97 === 0)
            .crossJoin(broadcast(mx))
            .select(
              (col("doc_id") + col("mx") + lit(1L)).as("doc_id"),
              concat(lit("new doc "), col("doc_id").cast(StringType))
                .as("text"),
              lit("insert").as("op")))
        // consumed twice (anti-join probe + final union): cache the small
        // batch rather than re-scan documents for each consumer
        .persistTracked()
      val untouched = base
        .join(
          batch.select(col("doc_id")),
          Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("text"), lit("carry").as("op"))
      untouched.unionByName(batch)
        .select(col("doc_id"), md5(col("text")).as("content_md5"), col("op"))
        .orderBy(col("doc_id"), col("op"))
    },
    Some("""
      WITH base AS (
        SELECT doc_id, text FROM documents
      ), mx AS (
        SELECT max(doc_id) AS mx FROM base
      ), batch AS (
        SELECT doc_id, text || ' v2' AS text, 'update' AS op
        FROM base WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + mx + 1, 'new doc ' || CAST(doc_id AS VARCHAR),
               'insert'
        FROM base, mx WHERE doc_id % 97 = 0
      ), merged AS (
        SELECT b.doc_id, b.text, 'carry' AS op FROM base b
        WHERE b.doc_id NOT IN (SELECT doc_id FROM batch)
        UNION ALL
        SELECT doc_id, text, op FROM batch
      )
      SELECT doc_id, md5(text) AS content_md5, op FROM merged
      ORDER BY doc_id, op"""))

  /** q153: DSIR-style importance weights for data selection (Xie et al.
    * NeurIPS'23, "Data Selection for Language Models via Importance
    * Resampling"): score every raw document by how target-like its
    * unigram distribution is — weight(x) = Π_w p_target(w)/p_raw(w)
    * over the document's tokens — where target = the English slice and
    * raw = the whole corpus, both add-1-smoothed over the raw
    * vocabulary. DSIR hashes n-grams into buckets at web scale; this
    * fixture's vocabulary is the bucket table directly (same algebra,
    * identity hash).
    *
    * Determinism (the q95 discipline): each per-token ratio is ONE IEEE
    * division of exact BIGINT products — (c_t+1)·(N_r+V) over
    * (c_r+1)·(N_t+V), all < 2^53 — and the per-doc product folds in
    * token-position order via a sequential `aggregate` ↔ `list_reduce`,
    * so both engines multiply identical doubles in the identical order.
    * Scale: two vocabulary-sized count tables (broadcast), a 1-row
    * totals table (broadcast), one corpus scan + one doc_id aggregate;
    * at 100 TB the fold moves to log-space with the same agreed order.
    */
  val q153 = Q(
    "q153_dsir_weights",
    (s, d) => {
      val tok = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("lang"), col("pos"), col("col").as("w"))
        .persistTracked()
      val cr = tok.groupBy(col("w")).agg(count(lit(1)).as("c_r"))
      val ct = tok.filter(col("lang") === "en")
        .groupBy(col("w")).agg(count(lit(1)).as("c_t"))
      val totals = tok.agg(
        count(lit(1)).as("n_r"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_t"),
        countDistinct(col("w")).as("v"))
      val ratios = tok
        .join(cr, Seq("w"))
        .join(ct, Seq("w"), "left_outer")
        .crossJoin(broadcast(totals))
        .withColumn(
          "r",
          ((coalesce(col("c_t"), lit(0L)) + 1L) * (col("n_r") + col("v")))
            .cast(DoubleType)
            / ((col("c_r") + 1L) * (col("n_t") + col("v")))
              .cast(DoubleType))
      ratios.groupBy(col("doc_id"), col("lang"))
        .agg(
          count(lit(1)).as("n_toks"),
          expr("""aggregate(
                    transform(array_sort(collect_list(struct(pos, r))),
                              x -> x.r),
                    CAST(1 AS DOUBLE), (a, x) -> a * x)""").as("weight"))
        .withColumn("favored", col("weight") > lit(1.0))
        .select(col("doc_id"), col("lang"), col("n_toks"),
          col("weight"), col("favored"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
      ), tok AS (
        SELECT doc_id, lang,
               unnest(range(1, len(ws) + 1)) AS pos, ws
        FROM docs
      ), t AS (
        SELECT doc_id, lang, pos, ws[pos] AS w FROM tok
      ), cr AS (
        SELECT w, count(*) AS c_r FROM t GROUP BY w
      ), ct AS (
        SELECT w, count(*) AS c_t FROM t WHERE lang = 'en' GROUP BY w
      ), totals AS (
        SELECT count(*) AS n_r,
               count(*) FILTER (lang = 'en') AS n_t,
               count(DISTINCT w) AS v
        FROM t
      ), ratios AS (
        SELECT t.doc_id, t.lang, t.pos,
               CAST((coalesce(ct.c_t, 0) + 1) * (n_r + v) AS DOUBLE)
                 / CAST((cr.c_r + 1) * (n_t + v) AS DOUBLE) AS r
        FROM t
        JOIN cr USING (w)
        LEFT JOIN ct USING (w)
        CROSS JOIN totals
      )
      SELECT doc_id, lang, count(*) AS n_toks,
             list_reduce(
               list_prepend(CAST(1 AS DOUBLE), list(r ORDER BY pos)),
               (a, b) -> a * b) AS weight,
             list_reduce(
               list_prepend(CAST(1 AS DOUBLE), list(r ORDER BY pos)),
               (a, b) -> a * b) > CAST(1 AS DOUBLE) AS favored
      FROM ratios
      GROUP BY doc_id, lang
      ORDER BY doc_id"""))

  /** q156: k-anonymous release — the aggregate-suppression half of the
    * privacy pass whose scrubbing half is q83's PII redaction: publish
    * per-(nation, segment) customer stats only for quasi-identifier
    * cells with at least k=10 members; smaller cells collapse into one
    * SUPPRESSED residual bucket so no released row describes fewer than
    * k people (Sweeney 2002's k-anonymity, applied at the aggregate
    * release boundary). Scale: one corpus aggregate to cell stats, then
    * the suppression re-aggregate runs over CELL-sized rows (≤ nations ×
    * segments) — the corpus is never touched twice; the nation-name leg
    * broadcasts. Money stays in exact cents until one final division. */
  val q156 = Q(
    "q156_k_anonymity",
    (s, d) => {
      val k = 10L
      val cells = Tables.load(s, d, "customer")
        .join(Tables.load(s, d, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(Det.cents(col("c_acctbal"))).as("cents"))
      cells
        .withColumn("rel_nation",
          when(col("n") >= k, col("n_name")).otherwise(lit("SUPPRESSED")))
        .withColumn("rel_segment",
          when(col("n") >= k, col("c_mktsegment"))
            .otherwise(lit("SUPPRESSED")))
        .groupBy(col("rel_nation"), col("rel_segment"))
        .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
        .select(col("rel_nation"), col("rel_segment"), col("n"),
          (col("cents").cast(DoubleType)
            / (col("n").cast(DoubleType) * lit(100.0))).as("mean_acctbal"))
        .orderBy(col("rel_nation"), col("rel_segment"))
    },
    Some("""
      WITH cells AS (
        SELECT n_name, c_mktsegment, count(*) AS n,
               CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
      ), released AS (
        SELECT CASE WHEN n >= 10 THEN n_name
                    ELSE 'SUPPRESSED' END AS rel_nation,
               CASE WHEN n >= 10 THEN c_mktsegment
                    ELSE 'SUPPRESSED' END AS rel_segment,
               n, cents
        FROM cells
      )
      SELECT rel_nation, rel_segment,
             CAST(sum(n) AS BIGINT) AS n,
             CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE)
               / (CAST(sum(n) AS DOUBLE) * 100) AS mean_acctbal
      FROM released
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** q182: order-independent table fingerprint — the replication /
    * migration validation primitive ("did every row survive the copy?"):
    * per table, a checksum that any engine computes identically from row
    * CONTENT alone — sum over rows of a 48-bit integer digest of the
    * canonical row string — plus row and distinct-key counts. Order
    * independence comes from + being commutative (the reason checksum
    * aggregates in every warehouse use sum/xor of row hashes, e.g.
    * Percona's pt-table-checksum design); exactness from accumulating in
    * DECIMAL(38,0) (q159's discipline), which cannot overflow below
    * ~10^23 rows. The canonical string renders every column through
    * engine-portable forms: integers as decimal text, money as exact
    * cents, timestamps as DATE text, text columns via md5. Scale: one
    * scan per table, map-side-combinable sum — the cheapest possible
    * full-content audit; verifying a 100 TB copy costs two scans and
    * ships back one row per table.
    *
    * Output representation: the DECIMAL(38,0) sum reaches ~10^19-10^20
    * at fixture scale — past float64's 2^53 exact range — so any result
    * channel that normalizes numerics through double (or renders big
    * decimals differently across engines) corrupts it while the value
    * is still exact. The emitted column is therefore `fingerprint_hex`:
    * a fixed-width 16-char lowercase hex STRING of `sum mod 2^64`,
    * built from two 32-bit halves so every intermediate fits a signed
    * BIGINT in both engines. Strings survive any normalizer. */
  val q182 = Q(
    "q182_table_checksum",
    (s, d) => {
      def nib(expr0: String): String =
        (1 to 12).map { i =>
          val scale = 1L << (4 * (12 - i))
          s"(instr('0123456789abcdef', substr(md5($expr0), $i, 1)) - 1)" +
            s" * ${scale}L"
        }.mkString("(", " + ", ")")
      val ord = Tables.load(s, d, "orders")
        .withColumn("canon", expr(
          "concat_ws('|', CAST(o_orderkey AS STRING), " +
            "CAST(o_custkey AS STRING), o_orderstatus, " +
            "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), " +
            "CAST(CAST(o_orderdate AS DATE) AS STRING), o_orderpriority)"))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          sum(expr(nib("canon")).cast(DecimalType(38, 0)))
            .as("fingerprint"))
        .select(lit("orders").as("table_name"), col("n_rows"),
          col("n_keys"), col("fingerprint"))
      val doc = Tables.load(s, d, "documents")
        .withColumn("canon", expr(
          "concat_ws('|', CAST(doc_id AS STRING), md5(text), lang, " +
            "source, CAST(n_chars AS STRING))"))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_keys"),
          sum(expr(nib("canon")).cast(DecimalType(38, 0)))
            .as("fingerprint"))
        .select(lit("documents").as("table_name"), col("n_rows"),
          col("n_keys"), col("fingerprint"))
      // mod 2^64 then render as two 32-bit hex halves: every intermediate
      // fits a signed BIGINT, and the STRING output survives any driver
      // normalization that would mangle a DECIMAL(38,0).
      val hexExpr =
        "format_string('%08x%08x', " +
          "CAST((fingerprint % CAST('18446744073709551616' AS DECIMAL(38,0)))" +
          " div 4294967296L AS BIGINT), " +
          "CAST(fingerprint % 4294967296L AS BIGINT))"
      ord.unionAll(doc)
        .withColumn("fingerprint_hex", expr(hexExpr))
        .drop("fingerprint")
        .orderBy(col("table_name"))
    },
    Some {
      // CAST before the multiply: DuckDB would otherwise plan the small
      // scales as INT32 and overflow at nibble 15 × 2^28
      def nib(expr0: String): String =
        (1 to 12).map { i =>
          val scale = 1L << (4 * (12 - i))
          s"(CAST(instr('0123456789abcdef', substr(md5($expr0), $i, 1))" +
            s" AS BIGINT) - 1) * ${scale}"
        }.mkString("(", " + ", ")")
      s"""
      WITH o AS (
        SELECT concat_ws('|', CAST(o_orderkey AS VARCHAR),
                 CAST(o_custkey AS VARCHAR), o_orderstatus,
                 CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                 CAST(CAST(o_orderdate AS DATE) AS VARCHAR),
                 o_orderpriority) AS canon,
               o_orderkey
        FROM orders
      ), dcs AS (
        SELECT concat_ws('|', CAST(doc_id AS VARCHAR), md5(text), lang,
                 source, CAST(n_chars AS VARCHAR)) AS canon, doc_id
        FROM documents
      )
      SELECT 'orders' AS table_name, count(*) AS n_rows,
             count(DISTINCT o_orderkey) AS n_keys,
             printf('%08x%08x',
               CAST((sum(CAST(${nib("canon")} AS HUGEINT))
                     % 18446744073709551616) // 4294967296 AS BIGINT),
               CAST(sum(CAST(${nib("canon")} AS HUGEINT))
                    % 4294967296 AS BIGINT)) AS fingerprint_hex
      FROM o
      UNION ALL
      SELECT 'documents' AS table_name, count(*) AS n_rows,
             count(DISTINCT doc_id) AS n_keys,
             printf('%08x%08x',
               CAST((sum(CAST(${nib("canon")} AS HUGEINT))
                     % 18446744073709551616) // 4294967296 AS BIGINT),
               CAST(sum(CAST(${nib("canon")} AS HUGEINT))
                    % 4294967296 AS BIGINT)) AS fingerprint_hex
      FROM dcs
      ORDER BY table_name"""
    })

  /** q203: weighted sampling without replacement — Efraimidis-Spirakis
    * (IPL'06 "Weighted random sampling with a reservoir", the A-ES
    * scheme): draw u ~ U(0,1) per item, key it u^(1/w), keep the top-k
    * keys; inclusion probability then tracks weight w — the standard
    * one-pass quality-weighted selector for assembling a training mix
    * from a scored corpus (here: lang-tier weights en=4, fr/de/es=2,
    * zh=1). Determinism is the whole trick, twice over:
    *  - u is a DYADIC RATIONAL from the doc's md5 (48 bits / 2^48, the
    *    q182 nibble parse) — exact in both engines;
    *  - u^(1/w) is computed ONLY via sqrt (w=2: sqrt, w=4: sqrt∘sqrt),
    *    which IEEE 754 requires correctly rounded — so the priorities
    *    are bit-identical cross-engine, with no libm-dependent pow/ln
    *    anywhere (same discipline as the repo's other double columns).
    * Scale: priorities are a per-row projection; top-k is Spark's
    * TakeOrderedAndProject (per-partition heads, never a global sort);
    * the oracle replays ORDER BY priority LIMIT k. */
  val q203 = Q(
    "q203_weighted_sample",
    (s, d) => {
      def nib(expr0: String): String =
        (1 to 12).map { i =>
          val scale = 1L << (4 * (12 - i))
          s"(instr('0123456789abcdef', substr(md5($expr0), $i, 1)) - 1)" +
            s" * ${scale}L"
        }.mkString("(", " + ", ")")
      val k = 100
      Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("w",
          when(col("lang") === "en", 4L)
            .when(col("lang").isin("fr", "de", "es"), 2L)
            .otherwise(1L))
        .withColumn("u", expr(
          s"CAST(${nib("concat('samp:', CAST(doc_id AS STRING))")} " +
            s"AS DOUBLE) / ${1L << 48}L"))
        .withColumn("priority",
          when(col("w") === 4L, sqrt(sqrt(col("u"))))
            .when(col("w") === 2L, sqrt(col("u")))
            .otherwise(col("u")))
        .orderBy(desc("priority"), col("doc_id"))
        .limit(k)
        .select(col("doc_id"), col("lang"), col("w"), col("priority"))
    },
    Some {
      def nib(expr0: String): String =
        (1 to 12).map { i =>
          val scale = 1L << (4 * (12 - i))
          s"(CAST(instr('0123456789abcdef', substr(md5($expr0), $i, 1))" +
            s" AS BIGINT) - 1) * ${scale}"
        }.mkString("(", " + ", ")")
      s"""
      WITH scored AS (
        SELECT doc_id, lang,
               CASE WHEN lang = 'en' THEN 4
                    WHEN lang IN ('fr', 'de', 'es') THEN 2
                    ELSE 1 END AS w,
               CAST(${nib("'samp:' || CAST(doc_id AS VARCHAR)")}
                    AS DOUBLE) / ${1L << 48} AS u
        FROM documents
      )
      SELECT doc_id, lang, CAST(w AS BIGINT) AS w,
             CASE WHEN w = 4 THEN sqrt(sqrt(u))
                  WHEN w = 2 THEN sqrt(u)
                  ELSE u END AS priority
      FROM scored
      ORDER BY priority DESC, doc_id
      LIMIT 100"""
    })

  /** q210: quality-filter CASCADE attrition funnel — the pipeline-audit
    * report every corpus release ships with (what C4/RefinedWeb/Gopher
    * papers publish as "docs surviving each rule"): filters applied in a
    * FIXED order, one row per stage with survivors, drop-at-stage, and
    * cumulative survival rate. Stages compose the repo's portable filter
    * vocabulary: length bounds, language allowlist, mean-word-length
    * shape test (pure-integer: 3·n_tokens ≤ token_chars ≤ 8·n_tokens —
    * no float boundary), minimum stopword evidence, and exact-hash
    * dedup (keep = min doc_id per md5). One corpus scan computes every
    * flag; the dedup keeper table is the only shuffle (hash-groupBy —
    * scales); the funnel itself aggregates to a SINGLE row of prefix-AND
    * counts, unpivoted to 6 stage rows (stack ↔ UNION ALL). Survival
    * rates are single IEEE divisions of exact integer counts —
    * bit-identical cross-engine. */
  val q210 = Q(
    "q210_filter_funnel",
    (s, d) => {
      val keep = Tables.load(s, d, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"))
      val flagged = Tables.load(s, d, "documents")
        .withColumn("h", md5(col("text")))
        .join(keep, "h")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tokens", size(col("toks")).cast(LongType))
        // single-space-joined text: token chars = n_chars - separators
        .withColumn("token_chars",
          col("n_chars") - col("n_tokens") + lit(1L))
        .select(
          (col("n_chars") >= 100L && col("n_chars") <= 20000L).as("f1"),
          col("lang").isin("en", "es", "de", "fr").as("f2"),
          (col("token_chars") >= col("n_tokens") * lit(3L) &&
            col("token_chars") <= col("n_tokens") * lit(8L)).as("f3"),
          (size(expr("filter(toks, t -> t IN ('the', 'a'))")) >= 2)
            .as("f4"),
          (col("doc_id") === col("keep_id")).as("f5"))
      def surv(flags: Seq[String]): org.apache.spark.sql.Column =
        if (flags.isEmpty) count(lit(1))
        else sum(when(flags.map(col).reduce(_ && _), 1L).otherwise(0L))
      val one = flagged.agg(
        surv(Nil).as("s0"),
        surv(Seq("f1")).as("s1"),
        surv(Seq("f1", "f2")).as("s2"),
        surv(Seq("f1", "f2", "f3")).as("s3"),
        surv(Seq("f1", "f2", "f3", "f4")).as("s4"),
        surv(Seq("f1", "f2", "f3", "f4", "f5")).as("s5"))
      one.selectExpr(
          """stack(6,
             0L, 'all_docs',    s0, CAST(0 AS BIGINT),
             1L, 'length',      s1, s0 - s1,
             2L, 'language',    s2, s1 - s2,
             3L, 'word_shape',  s3, s2 - s3,
             4L, 'stopwords',   s4, s3 - s4,
             5L, 'exact_dedup', s5, s4 - s5)
             AS (stage, stage_name, surviving, dropped)""",
          "CAST(s0 AS DOUBLE) AS total")
        .select(col("stage"), col("stage_name"), col("surviving"),
          col("dropped"),
          (col("surviving").cast(DoubleType) / col("total"))
            .as("survival_rate"))
        .orderBy(col("stage"))
    },
    Some("""
      WITH keepers AS (
        SELECT md5(text) AS h, min(doc_id) AS keep_id
        FROM documents GROUP BY 1
      ), flagged AS (
        SELECT
          (n_chars BETWEEN 100 AND 20000) AS f1,
          lang IN ('en', 'es', 'de', 'fr') AS f2,
          ((n_chars - len(string_split(text, ' ')) + 1)
             BETWEEN len(string_split(text, ' ')) * 3
                 AND len(string_split(text, ' ')) * 8) AS f3,
          (len(list_filter(string_split(text, ' '),
               t -> t IN ('the', 'a'))) >= 2) AS f4,
          (doc_id = keep_id) AS f5
        FROM documents d JOIN keepers k ON md5(d.text) = k.h
      ), one AS (
        SELECT count(*) AS s0,
          sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS s1,
          sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS s2,
          sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS s3,
          sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS s4,
          sum(CASE WHEN f1 AND f2 AND f3 AND f4 AND f5
              THEN 1 ELSE 0 END) AS s5
        FROM flagged
      )
      SELECT CAST(stage AS BIGINT) AS stage, stage_name,
             CAST(surviving AS BIGINT) AS surviving,
             CAST(dropped AS BIGINT) AS dropped,
             CAST(surviving AS DOUBLE) / CAST(s0 AS DOUBLE)
               AS survival_rate
      FROM (
        SELECT 0 AS stage, 'all_docs' AS stage_name,
               s0 AS surviving, 0 AS dropped, s0 FROM one
        UNION ALL SELECT 1, 'length', s1, s0 - s1, s0 FROM one
        UNION ALL SELECT 2, 'language', s2, s1 - s2, s0 FROM one
        UNION ALL SELECT 3, 'word_shape', s3, s2 - s3, s0 FROM one
        UNION ALL SELECT 4, 'stopwords', s4, s3 - s4, s0 FROM one
        UNION ALL SELECT 5, 'exact_dedup', s5, s4 - s5, s0 FROM one
      ) stages
      ORDER BY stage"""))

  /** q245: DATA-DRIFT monitor against a committed baseline — the
    * observability op a standing ingest pipeline runs before letting a
    * new crawl day into training: does today's length distribution
    * still look like the corpus the filters were tuned on? Baseline =
    * per-bucket doc-length histogram (n_chars div 50) of the standing
    * corpus (doc_id ≤ the 80% cut), published ONCE through the TSV
    * staged-commit sink (fourth member of the q238/q240/q242 store
    * family — histograms are the textbook mergeable state: counts sum);
    * each run loads it and compares today's arrivals bucket by bucket.
    * Drift is reported as |old_frac − new_frac| per bucket — the L1/2
    * (total-variation) decomposition — using ONLY IEEE divisions and
    * subtractions of exact BIGINT counts, identical in both engines;
    * PSI/KL variants need ln() and are deliberately out of the
    * cross-engine-exact contract (BUILDLOG: ln is never portable).
    * Oracle recomputes BOTH distributions straight off the documents
    * table, so a pass proves the stored baseline faithful through the
    * serialization boundary and the comparison arithmetic exact. At
    * 100 TB: the baseline is bucket-count rows (KBs), today's pass is
    * one map-side-combinable groupBy, and the full-outer alignment is
    * a broadcast join. */
  val q245 = Q(
    "q245_drift_monitor",
    (s, d) => {
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("n_chars"))
        .persistTracked()
      val cut = docs.agg(max(col("doc_id")).as("m")).head().getLong(0) * 4 / 5
      val old = docs.filter(col("doc_id") <= cut)
      val fp = old.agg(
        count(lit(1)).as("n"), sum(col("doc_id")).as("sid"),
        sum(col("n_chars")).as("sc")).head()
      val dir = Dedup.stateDir("histo", d,
        s"${fp.getLong(0)}_${fp.getLong(1)}_${fp.getLong(2)}")
      java.nio.file.Files.createDirectories(dir.getParent)
      if (!java.nio.file.Files.exists(dir.resolve("_SUCCESS"))) {
        old.groupBy(expr("n_chars div 50").as("bucket"))
          .agg(count(lit(1)).as("old_n"))
          .write.format("graft.sources.tsv")
          .mode("overwrite").save(dir.toString)
      }
      val baseline = s.read.format("graft.sources.tsv")
        .schema(StructType(Seq(
          StructField("bucket", LongType, nullable = false),
          StructField("old_n", LongType, nullable = false))))
        .load(dir.toString)
      val freshH = docs.filter(col("doc_id") > cut)
        .groupBy(expr("n_chars div 50").as("bucket"))
        .agg(count(lit(1)).as("new_n"))
      val joined = baseline.join(freshH, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("old_n"), lit(0L)).as("old_n"),
          coalesce(col("new_n"), lit(0L)).as("new_n"))
      val tots = joined.agg(
        sum(col("old_n")).as("old_tot"), sum(col("new_n")).as("new_tot"))
      joined.crossJoin(broadcast(tots))
        .select(
          col("bucket"), col("old_n"), col("new_n"),
          (col("old_n").cast(DoubleType) / col("old_tot")).as("old_frac"),
          (col("new_n").cast(DoubleType) / col("new_tot")).as("new_frac"))
        .withColumn("drift_abs", abs(col("old_frac") - col("new_frac")))
        .orderBy(col("bucket"))
    },
    Some("""
      WITH cut AS (
        SELECT (4 * max(doc_id)) // 5 AS c FROM documents
      ), oldh AS (
        SELECT n_chars // 50 AS bucket, count(*) AS old_n
        FROM documents, cut WHERE doc_id <= c GROUP BY 1
      ), newh AS (
        SELECT n_chars // 50 AS bucket, count(*) AS new_n
        FROM documents, cut WHERE doc_id > c GROUP BY 1
      ), joined AS (
        SELECT coalesce(o.bucket, n.bucket) AS bucket,
               CAST(coalesce(o.old_n, 0) AS BIGINT) AS old_n,
               CAST(coalesce(n.new_n, 0) AS BIGINT) AS new_n
        FROM oldh o FULL OUTER JOIN newh n
          ON o.bucket IS NOT DISTINCT FROM n.bucket
      ), tots AS (
        SELECT CAST(sum(old_n) AS BIGINT) AS old_tot,
               CAST(sum(new_n) AS BIGINT) AS new_tot
        FROM joined
      )
      SELECT bucket, old_n, new_n,
             CAST(old_n AS DOUBLE) / old_tot AS old_frac,
             CAST(new_n AS DOUBLE) / new_tot AS new_frac,
             abs(CAST(old_n AS DOUBLE) / old_tot
                 - CAST(new_n AS DOUBLE) / new_tot) AS drift_abs
      FROM joined, tots
      ORDER BY bucket"""))

  /** q247's candidate columns and ordered FD pairs — shared between the
    * Spark program and its generated oracle so the check list cannot
    * drift between the twins. */
  private val fdCols = Seq("c_custkey", "c_name", "c_nationkey",
    "c_mktsegment")
  private val fdPairs: Seq[(String, String)] =
    for { a <- fdCols; b <- fdCols if a != b } yield (a, b)

  /** q247: FUNCTIONAL-DEPENDENCY and key discovery — the schema-profiling
    * op a catalog runs before trusting joins and dedup keys: for every
    * ordered column pair (a, b), does a → b hold (every a-value maps to
    * exactly one b-value), and is each column a key? Both reduce to one
    * cardinality identity: a → b iff |distinct a| = |distinct (a, b)|,
    * and a is a key iff |distinct a| = |rows| — so the whole report is
    * exact distinct-counting, no pairwise comparison anywhere. One scan
    * explodes each row into its 16 (check, value) tuples; one grouped
    * aggregate computes every check's cardinalities in a single shuffle
    * (16 groups — the shuffle volume is the distinct value sets, not the
    * table). Pair values are joined with chr(1) (never in the fixture's
    * value domain) so the composite count is engine-portable without
    * struct-equality semantics. The fixture's as-found truth: c_custkey
    * and c_name are keys (their 6 FDs all hold); c_nationkey and
    * c_mktsegment are neither keys nor determinants (25 nations map to
    * 93 (nation, segment) pairs). At 100 TB the exact pass stays linear
    * but the candidate set matters: run the q61-style sketch profile
    * first, then this query IS the exact-verification stage over the
    * surviving candidates. */
  val q247 = Q(
    "q247_fd_discovery",
    (s, d) => {
      val checks =
        fdPairs.map { case (a, b) =>
          struct(lit("fd").as("kind"), lit(a).as("lhs"), lit(b).as("rhs"),
            col(a).cast(StringType).as("lv"),
            col(b).cast(StringType).as("rv"))
        } ++ fdCols.map { c =>
          struct(lit("key").as("kind"), lit(c).as("lhs"),
            lit("(rowcount)").as("rhs"), col(c).cast(StringType).as("lv"),
            lit(null).cast(StringType).as("rv"))
        }
      Tables.load(s, d, "customer")
        .select(explode(array(checks: _*)).as("ck"))
        .select(col("ck.kind").as("kind"), col("ck.lhs").as("lhs"),
          col("ck.rhs").as("rhs"), col("ck.lv").as("lv"),
          col("ck.rv").as("rv"))
        .groupBy(col("kind"), col("lhs"), col("rhs"))
        .agg(
          countDistinct(col("lv")).as("n_lhs"),
          countDistinct(concat(col("lv"), expr("chr(1)"), col("rv")))
            .as("cd_pair"),
          count(lit(1)).as("n_rows"))
        .select(col("kind"), col("lhs"), col("rhs"), col("n_lhs"),
          when(col("kind") === "key", col("n_rows"))
            .otherwise(col("cd_pair")).as("n_ctx"))
        .withColumn("holds", col("n_lhs") === col("n_ctx"))
        .orderBy(col("kind"), col("lhs"), col("rhs"))
    },
    Some {
      val branches =
        fdPairs.map { case (a, b) =>
          s"""SELECT 'fd' AS kind, '$a' AS lhs, '$b' AS rhs,
             count(DISTINCT CAST($a AS VARCHAR)) AS n_lhs,
             count(DISTINCT CAST($a AS VARCHAR) || chr(1)
                   || CAST($b AS VARCHAR)) AS n_ctx
             FROM customer"""
        } ++ fdCols.map { c =>
          s"""SELECT 'key', '$c', '(rowcount)',
             count(DISTINCT CAST($c AS VARCHAR)), count(*)
             FROM customer"""
        }
      s"""
      SELECT kind, lhs, rhs, n_lhs, n_ctx, n_lhs = n_ctx AS holds
      FROM (${branches.mkString("\nUNION ALL\n")}) checks
      ORDER BY kind, lhs, rhs"""
    })

  /** q263: DISTINCT l-DIVERSITY audit — the attack k-anonymity alone
    * cannot stop (Machanavajjhala et al. 2006): a quasi-identifier
    * cell with k ≥ 10 members is still a disclosure if every member
    * shares the SAME sensitive value (homogeneity attack — knowing
    * someone is in the cell reveals their attribute). Sensitive value
    * here = the account-balance band (exact integer banding); per
    * (nation, segment) cell the audit reports k, distinct-l, and the
    * release verdict: RELEASE (k and l both clear), GENERALIZE (big
    * enough but value-homogeneous — widen the bands or merge cells),
    * SUPPRESS (below k, q156's bucket). Distinct-l is the EXACT
    * variant; entropy-l needs ln() and is out of the cross-engine
    * contract (the q245 PSI/KL rule). Scale: one corpus aggregate to
    * cell grain (count + exact distinct over a small band domain),
    * verdicts over cell-sized rows; the nation leg broadcasts. */
  val q263 = Q(
    "q263_l_diversity",
    (s, d) => {
      val (k, l) = (10L, 3L)
      Tables.load(s, d, "customer")
        .join(Tables.load(s, d, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        // +100000 shifts the worst-case -999.99 balance non-negative:
        // Spark `div` truncates toward zero, DuckDB `//` floors — they
        // agree only on non-negatives (the q206 BUILDLOG invariant)
        .withColumn("band", expr("(CAST(round(c_acctbal * 100) AS BIGINT)" +
          " + 100000) div 200000"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("band")).as("l_distinct"))
        .withColumn("verdict",
          when(col("n") < k, lit("SUPPRESS"))
            .when(col("l_distinct") < l, lit("GENERALIZE"))
            .otherwise(lit("RELEASE")))
        .orderBy(col("n_name"), col("c_mktsegment"))
    },
    Some("""
      SELECT n_name, c_mktsegment, count(*) AS n,
             count(DISTINCT (CAST(round(c_acctbal * 100) AS BIGINT)
               + 100000) // 200000) AS l_distinct,
             CASE WHEN count(*) < 10 THEN 'SUPPRESS'
                  WHEN count(DISTINCT (CAST(round(c_acctbal * 100)
                         AS BIGINT) + 100000) // 200000)
                       < 3 THEN 'GENERALIZE'
                  ELSE 'RELEASE' END AS verdict
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** q293: T-CLOSENESS AUDIT (Li, Li & Venkatasubramanian, ICDE 2007) —
    * the third rung of the release-gate ladder after q156's k-anonymity
    * (class size) and q263's l-diversity (distinct sensitive values):
    * a class can be large AND diverse yet still leak if its sensitive
    * DISTRIBUTION differs from the corpus at large (e.g. one segment
    * skews rich). t-closeness bounds the Earth Mover's Distance between
    * each equivalence class's distribution and the global one over the
    * ORDERED sensitive attribute. For a 1-D ordered histogram the EMD
    * has a closed form — the mean absolute difference of cumulative
    * fractions — and with integer band counts it is EXACT: per band,
    * |cum_class·N − cum_global·n_class| is an integer numerator and ONE
    * final division by n_class·N·(m−1) produces bit-identical doubles
    * in both engines. Scale: two grouped aggregates over one scan plus
    * a bands×classes densification join on a broadcast band grid —
    * no per-row state, no quadratic term. */
  val q293 = Q(
    "q293_t_closeness",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val (k, t) = (10L, 0.2)
      val banded = Tables.load(s, d, "customer")
        .join(Tables.load(s, d, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .withColumn("band", expr("(CAST(round(c_acctbal * 100) AS BIGINT)" +
          " + 100000) div 200000"))
        .select(col("n_name"), col("c_mktsegment"), col("band"))
      val global = banded.groupBy(col("band"))
        .agg(count(lit(1)).as("g"))
      val classes = banded.groupBy(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("nc"))
      val cells = banded.groupBy(col("n_name"), col("c_mktsegment"),
        col("band")).agg(count(lit(1)).as("a"))
      // densify: every class must carry a cum value at EVERY band, or
      // the EMD sum skips exactly the bands where distributions differ
      val dense = classes.crossJoin(broadcast(global))
        .join(cells, Seq("n_name", "c_mktsegment", "band"), "left")
        .na.fill(0L, Seq("a"))
      val wc = Window.partitionBy(col("n_name"), col("c_mktsegment"))
        .orderBy(col("band"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = banded.agg(count(lit(1)).as("nn"),
        countDistinct(col("band")).as("m"))
      dense
        .withColumn("cum_a", sum(col("a")).over(wc))
        .withColumn("cum_g", sum(col("g")).over(wc))
        .crossJoin(broadcast(tot))
        .groupBy(col("n_name"), col("c_mktsegment"), col("nc"),
          col("nn"), col("m"))
        .agg(sum(abs(col("cum_a") * col("nn") - col("cum_g") * col("nc")))
          .as("num"))
        .withColumn("emd", col("num").cast(DoubleType) /
          (col("nc") * col("nn") * (col("m") - 1L)).cast(DoubleType))
        .withColumn("verdict",
          when(col("nc") < k, lit("SUPPRESS"))
            .when(col("emd") > t, lit("GENERALIZE"))
            .otherwise(lit("RELEASE")))
        .select(col("n_name"), col("c_mktsegment"), col("nc").as("n"),
          col("emd"), col("verdict"))
        .orderBy(col("n_name"), col("c_mktsegment"))
    },
    Some("""
      WITH banded AS (
        SELECT n_name, c_mktsegment,
               (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 200000
                 AS band
        FROM customer JOIN nation ON c_nationkey = n_nationkey
      ), global AS (
        SELECT band, count(*) AS g FROM banded GROUP BY band
      ), classes AS (
        SELECT n_name, c_mktsegment, count(*) AS nc
        FROM banded GROUP BY 1, 2
      ), cells AS (
        SELECT n_name, c_mktsegment, band, count(*) AS a
        FROM banded GROUP BY 1, 2, 3
      ), tot AS (
        SELECT count(*) AS nn, count(DISTINCT band) AS m FROM banded
      ), dense AS (
        SELECT c.n_name, c.c_mktsegment, c.nc, gl.band, gl.g,
               coalesce(ce.a, 0) AS a
        FROM classes c CROSS JOIN global gl
        LEFT JOIN cells ce ON ce.n_name = c.n_name
         AND ce.c_mktsegment = c.c_mktsegment AND ce.band = gl.band
      ), cum AS (
        SELECT *, sum(a) OVER w AS cum_a, sum(g) OVER w AS cum_g
        FROM dense
        WINDOW w AS (PARTITION BY n_name, c_mktsegment ORDER BY band
                     ROWS UNBOUNDED PRECEDING)
      ), scored AS (
        SELECT n_name, c_mktsegment, nc, nn, m,
               CAST(sum(abs(cum_a * nn - cum_g * nc)) AS BIGINT) AS num
        FROM cum, tot
        GROUP BY 1, 2, 3, 4, 5
      )
      SELECT n_name, c_mktsegment, nc AS n,
             CAST(num AS DOUBLE) / CAST(nc * nn * (m - 1) AS DOUBLE) AS emd,
             CASE WHEN nc < 10 THEN 'SUPPRESS'
                  WHEN CAST(num AS DOUBLE)
                       / CAST(nc * nn * (m - 1) AS DOUBLE) > 0.2
                    THEN 'GENERALIZE'
                  ELSE 'RELEASE' END AS verdict
      FROM scored
      ORDER BY n_name, c_mktsegment"""))

  /** q290: ISOTONIC CALIBRATION (pool-adjacent-violators) — the
    * calibration step between a scorer and a pipeline gate: raw
    * per-score-bin positive rates are NOT monotone (sampling noise), so
    * thresholding on them is unstable; the PAV fit (Ayer et al. 1955;
    * Zadrozny & Elkan 2002 for classifier calibration) is the least-
    * squares monotone curve. Computed via the MINIMAX characterization
    * (Robertson/Wright/Dykstra, Ch.1): fitted_i = max_{j<=i} min_{k>=i}
    * avg(y[j..k]) — a closed FORM, not the sequential pooling loop, so
    * both engines evaluate identical arithmetic with no iteration-order
    * hazard. The corpus scan reduces to <=32 exact-integer bin stats
    * (score bin = token-length octile, label = contains 'the' twice —
    * correlated but noisy, so real violations occur and pool); the
    * O(bins^3) minimax then runs on the tiny frame — broadcast-hinted
    * inequality joins, never a shuffled cartesian. Interval averages
    * are single IEEE divisions of identical integers; min/max over
    * identical doubles is order-free — bit-exact cross-engine. Scale:
    * the 100 TB bill is the ONE stats scan; calibration itself is
    * O(1). */
  val q290 = Q(
    "q290_isotonic_calibration",
    (s, d) => {
      val feat = Tables.load(s, d, "documents").select(
        least(expr("size(split(text, ' ')) div 8"), lit(31))
          .cast(LongType).as("b"),
        when(expr("size(filter(split(text, ' '), t -> t = 'the'))") >= 2,
          1L).otherwise(0L).as("y"))
      val bins = feat.groupBy(col("b"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("k"))
      val cum = bins.as("i")
        .join(broadcast(bins.as("p")), col("p.b") <= col("i.b"))
        .groupBy(col("i.b").as("b"), col("i.n").as("n"), col("i.k").as("k"))
        .agg(sum(col("p.n")).as("cn"), sum(col("p.k")).as("ck"))
      val ivl = cum.as("j")
        .join(broadcast(cum.as("kk")), col("j.b") <= col("kk.b"))
        .select(col("j.b").as("jb"), col("kk.b").as("kb"),
          ((col("kk.ck") - (col("j.ck") - col("j.k"))).cast(DoubleType) /
            (col("kk.cn") - (col("j.cn") - col("j.n")))).as("a"))
      val mm = cum.select(col("b")).as("i")
        .join(broadcast(ivl),
          col("jb") <= col("i.b") && col("i.b") <= col("kb"))
        .groupBy(col("i.b").as("b"), col("jb"))
        .agg(min(col("a")).as("mn"))
      val fit = mm.groupBy(col("b")).agg(max(col("mn")).as("fitted"))
      bins.join(broadcast(fit), "b")
        .select(col("b"), col("n"), col("k"),
          (col("k").cast(DoubleType) / col("n")).as("raw_rate"),
          col("fitted"))
        .orderBy(col("b"))
    },
    Some("""
      WITH feat AS (
        SELECT least(CAST(len(string_split(text, ' ')) AS BIGINT) // 8, 31)
                 AS b,
               CASE WHEN len(list_filter(string_split(text, ' '),
                      t -> t = 'the')) >= 2 THEN 1 ELSE 0 END AS y
        FROM documents
      ), bins AS (
        SELECT b, count(*) AS n, CAST(sum(y) AS BIGINT) AS k
        FROM feat GROUP BY b
      ), cum AS (
        SELECT i.b, i.n, i.k, CAST(sum(p.n) AS BIGINT) AS cn,
               CAST(sum(p.k) AS BIGINT) AS ck
        FROM bins i JOIN bins p ON p.b <= i.b
        GROUP BY i.b, i.n, i.k
      ), ivl AS (
        SELECT j.b AS jb, kk.b AS kb,
               CAST(kk.ck - (j.ck - j.k) AS DOUBLE)
                 / (kk.cn - (j.cn - j.n)) AS a
        FROM cum j, cum kk WHERE j.b <= kk.b
      ), mm AS (
        SELECT i.b, ivl.jb, min(ivl.a) AS mn
        FROM cum i JOIN ivl ON ivl.jb <= i.b AND i.b <= ivl.kb
        GROUP BY i.b, ivl.jb
      ), fit AS (
        SELECT b, max(mn) AS fitted FROM mm GROUP BY b
      )
      SELECT bins.b, bins.n, bins.k,
             CAST(bins.k AS DOUBLE) / bins.n AS raw_rate, fit.fitted
      FROM bins JOIN fit ON bins.b = fit.b
      ORDER BY bins.b"""))

  /** 48-bit per-subject pad from the nibbles of an md5 hex COLUMN (hash
    * once per row, then parse — the round-1 inline-expensive-expr
    * lesson) — ONE text evaluable by both engines (instr/substr are
    * portable; the KmvMd5.nibSql discipline at 12 nibbles). 48 bits
    * covers any cents value in the fixture with headroom and stays
    * positive in both BIGINTs. Spark needs the L suffix for BIGINT
    * literals; DuckDB widens bare literals itself. */
  private def padFromHex(h: String, longSuffix: String): String =
    (1 to 12).map { i =>
      val scale = 1L << (4 * (12 - i))
      s"(CAST(instr('0123456789abcdef', substr($h, $i, 1))" +
        s" AS BIGINT) - 1) * ${scale}$longSuffix"
    }.mkString("(", " + ", ")")

  /** q298: CRYPTO-SHREDDING ERASURE — the third erasure mechanism after
    * q83's redaction (mask in place) and q269's physical purge (rewrite
    * files): encrypt every subject's values under a PER-SUBJECT key and
    * forget the KEY to forget the subject (GDPR-era key-deletion
    * erasure, e.g. NIST SP 800-88 "cryptographic erase"). The data
    * files never change — which is the point at 100 TB: erasing one
    * subject from petabytes of immutable parquet costs one keystore
    * row, not a rewrite; q269's compaction can then reclaim bytes
    * LAZILY. The cipher here is a keyed-md5 XOR pad (a stand-in with
    * the right ALGEBRA — deterministic, invertible, value-hiding per
    * subject; swap in AES-GCM off-container): both engines encrypt,
    * drop k%13 subjects' keys, and decrypt through the surviving
    * keystore; the READABLE cohort's decrypted sum must equal the
    * plaintext sum over surviving subjects — the round-trip proof —
    * while ERASED rows are countable but valueless. Spark spells XOR
    * `^`, DuckDB `xor()`; the pad text is shared verbatim. */
  val q298 = Q(
    "q298_crypto_shred",
    (s, d) => {
      val enc = Tables.load(s, d, "orders")
        .select(col("o_custkey").as("cust"),
          Det.cents(col("o_totalprice")).as("c"))
        .withColumn("h", md5(concat(lit("pepper"), col("cust").cast(StringType))))
        .withColumn("pad", expr(padFromHex("h", "L")))
        .select(col("cust"), expr("c ^ pad").as("enc"))
      val keystore = enc.select(col("cust")).distinct()
        .filter(col("cust") % 13 =!= 0)
        .withColumn("h", md5(concat(lit("pepper"), col("cust").cast(StringType))))
        .withColumn("kpad", expr(padFromHex("h", "L")))
        .drop("h")
      enc.join(keystore, Seq("cust"), "left")
        .withColumn("cohort",
          when(col("kpad").isNull, "ERASED").otherwise("READABLE"))
        .withColumn("dec",
          when(col("kpad").isNotNull, expr("enc ^ kpad")).otherwise(0L))
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("cust")).as("n_subjects"),
          (sum(col("dec")).cast(DoubleType) / lit(100.0)).as("sum_value"))
        .orderBy(col("cohort"))
    },
    Some(s"""
      WITH hashed AS (
        SELECT o_custkey AS cust, ${Det.centsSql("o_totalprice")} AS c,
               md5(concat('pepper', CAST(o_custkey AS VARCHAR))) AS h
        FROM orders
      ), enc AS (
        SELECT cust, xor(c, ${padFromHex("h", "")}) AS enc FROM hashed
      ), khash AS (
        SELECT DISTINCT cust,
               md5(concat('pepper', CAST(cust AS VARCHAR))) AS h
        FROM enc WHERE cust % 13 <> 0
      ), keystore AS (
        SELECT cust, ${padFromHex("h", "")} AS kpad FROM khash
      )
      SELECT CASE WHEN k.kpad IS NULL THEN 'ERASED'
                  ELSE 'READABLE' END AS cohort,
             count(*) AS n_rows,
             count(DISTINCT e.cust) AS n_subjects,
             CAST(CAST(sum(CASE WHEN k.kpad IS NOT NULL
                  THEN xor(e.enc, k.kpad) ELSE 0 END) AS BIGINT)
               AS DOUBLE) / 100 AS sum_value
      FROM enc e LEFT JOIN keystore k ON e.cust = k.cust
      GROUP BY 1
      ORDER BY cohort"""))

  /** q310: RENDEZVOUS (HIGHEST-RANDOM-WEIGHT) SHARDING — the consistent
    * assignment primitive behind shard routers and cache rings (Thaler &
    * Ravishankar 1998): each key goes to the shard whose md5(key:shard)
    * is lexicographically largest, so when a shard is REMOVED only ITS
    * keys move (every other key's argmax is untouched — the minimal-
    * disruption property that makes resharding a 1/N bill instead of a
    * full reshuffle at 100 TB). Both engines evaluate the same 8-way
    * argmax with the SAME spelling (`max_by` exists in both); the
    * removal leg re-runs it with shard 3's weight demoted to '' (sorts
    * below every hex digest — no NULL-skipping semantics to trust
    * cross-engine). The per-shard census carries before/after counts and
    * the inflow from the removed shard; equality proves — in data, per
    * shard — that inflow accounts for ALL movement. The spec proves the
    * per-key invariant (new == old unless old == 3) directly. Scale:
    * one scan, 8× literal fan-out, one aggregation by key then one by
    * shard; no join anywhere. */
  val q310 = Q(
    "q310_rendezvous_sharding",
    (s, d) => {
      val assigned = Tables.load(s, d, "customer")
        .select(col("c_custkey").as("k"))
        .withColumn("s", explode(expr(
          "sequence(CAST(0 AS BIGINT), CAST(7 AS BIGINT))")))
        .withColumn("w",
          md5(concat(col("k").cast(StringType), lit(":"),
            col("s").cast(StringType))))
        .groupBy(col("k"))
        .agg(
          expr("max_by(s, w)").as("old_shard"),
          expr("max_by(s, CASE WHEN s = 3 THEN '' ELSE w END)")
            .as("new_shard"))
        .persistTracked()
      assigned
        .groupBy(col("old_shard").as("shard"))
        .agg(
          count(lit(1)).as("n_before"),
          sum(when(col("new_shard") === col("old_shard"), 1L)
            .otherwise(0L)).as("n_stayed"))
        .join(
          assigned.groupBy(col("new_shard").as("shard"))
            .agg(
              count(lit(1)).as("n_after"),
              sum(when(col("old_shard") === 3, 1L).otherwise(0L))
                .as("n_moved_in")),
          Seq("shard"), "full_outer")
        .select(
          col("shard"),
          coalesce(col("n_before"), lit(0L)).as("n_before"),
          coalesce(col("n_after"), lit(0L)).as("n_after"),
          coalesce(col("n_stayed"), lit(0L)).as("n_stayed"),
          coalesce(col("n_moved_in"), lit(0L)).as("n_moved_in"))
        .orderBy(col("shard"))
    },
    Some("""
      WITH assigned AS (
        SELECT k, max_by(s, w) AS old_shard,
               max_by(s, CASE WHEN s = 3 THEN '' ELSE w END) AS new_shard
        FROM (
          SELECT c_custkey AS k, g.s,
                 md5(CAST(c_custkey AS VARCHAR) || ':'
                     || CAST(g.s AS VARCHAR)) AS w
          FROM customer, (SELECT unnest(range(0, 8)) AS s) g
        ) cand
        GROUP BY k
      ), before AS (
        SELECT old_shard AS shard, count(*) AS n_before,
               CAST(sum(CASE WHEN new_shard = old_shard THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_stayed
        FROM assigned GROUP BY 1
      ), after AS (
        SELECT new_shard AS shard, count(*) AS n_after,
               CAST(sum(CASE WHEN old_shard = 3 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_moved_in
        FROM assigned GROUP BY 1
      )
      SELECT coalesce(b.shard, a.shard) AS shard,
             coalesce(b.n_before, 0) AS n_before,
             coalesce(a.n_after, 0) AS n_after,
             coalesce(b.n_stayed, 0) AS n_stayed,
             coalesce(a.n_moved_in, 0) AS n_moved_in
      FROM before b FULL OUTER JOIN after a ON b.shard = a.shard
      ORDER BY shard"""))

  /** q312: QUANTILE NORMALIZATION — the batch-effect correction that
    * forces every group's value DISTRIBUTION onto a common reference
    * (Bolstad et al. 2003, the microarray standard; in data pipelines:
    * making score distributions comparable across sources before a
    * global threshold is applied). Each segment's r-th ranked balance
    * maps to the GLOBAL value at the proportional rank
    * 1 + ⌊(r−1)(N−1)/(n_seg−1)⌋ — pure integer arithmetic, full
    * (value, key) tie-break in both rank orders, so the mapping is
    * deterministic cross-engine with no interpolation float. The
    * global rank comes from GlobalOrder.withOrderedCumsum — a
    * range-partitioned cumsum with broadcast offsets, NEVER a
    * single-partition window (the scale-safe global-order discipline
    * q79/q90 established). The report per segment: how much mass the
    * correction moved (exact Σ|orig − mapped| cents) and the mapped
    * sum — near-identical across segments by construction, which is
    * the point of the op. Scale: two rank shuffles + one equi-join on
    * rank; nothing quadratic, nothing single-partition. */
  val q312 = Q(
    "q312_quantile_normalize",
    (s, d) => {
      val bal = Tables.load(s, d, "customer")
        .select(
          col("c_mktsegment").as("seg"),
          col("c_custkey").as("k"),
          Det.cents(col("c_acctbal")).as("bal_c"))
        .persistTracked()
      val glob = graft.operators.GlobalOrder.withOrderedCumsum(
        bal.select(col("bal_c").as("g_bal_c"), col("k").as("g_k")),
        Seq(col("g_bal_c"), col("g_k")), lit(1L), "grank")
        .select(col("grank"), col("g_bal_c").as("mapped_c"))
      val nGlob = bal.agg(count(lit(1)).as("n_glob"))
      val w = Window.partitionBy(col("seg"))
        .orderBy(col("bal_c"), col("k"))
      val ranked = bal
        .withColumn("r", row_number().over(w).cast(LongType))
        .withColumn("n_seg",
          count(lit(1)).over(Window.partitionBy(col("seg"))))
        .crossJoin(broadcast(nGlob))
        .withColumn("trank",
          when(col("n_seg") === 1, lit(1L)).otherwise(
            lit(1L) + expr("(r - 1) * (n_glob - 1) div (n_seg - 1)")))
      ranked
        .join(glob, col("trank") === col("grank"))
        .groupBy(col("seg"))
        .agg(
          count(lit(1)).as("n"),
          sum(abs(col("bal_c") - col("mapped_c"))).as("sad_c"),
          sum(col("mapped_c")).as("sum_mapped_c"),
          max(abs(col("bal_c") - col("mapped_c"))).as("max_adjust_c"))
        .orderBy(col("seg"))
    },
    Some(s"""
      WITH bal AS (
        SELECT c_mktsegment AS seg, c_custkey AS k,
               ${Det.centsSql("c_acctbal")} AS bal_c
        FROM customer
      ), gref AS (
        -- `glob` is a DuckDB keyword (the GLOB match operator)
        SELECT row_number() OVER (ORDER BY bal_c, k) AS grank,
               bal_c AS mapped_c
        FROM bal
      ), ranked AS (
        SELECT seg, k, bal_c,
               row_number() OVER (PARTITION BY seg ORDER BY bal_c, k) AS r,
               count(*) OVER (PARTITION BY seg) AS n_seg,
               (SELECT count(*) FROM bal) AS n_glob
        FROM bal
      ), mapped AS (
        SELECT seg, bal_c, mapped_c
        FROM (SELECT *, CASE WHEN n_seg = 1 THEN 1
                             ELSE 1 + (r - 1) * (n_glob - 1) // (n_seg - 1)
                        END AS trank
              FROM ranked) t
        JOIN gref g ON t.trank = g.grank
      )
      SELECT seg, count(*) AS n,
             CAST(sum(abs(bal_c - mapped_c)) AS BIGINT) AS sad_c,
             CAST(sum(mapped_c) AS BIGINT) AS sum_mapped_c,
             max(abs(bal_c - mapped_c)) AS max_adjust_c
      FROM mapped
      GROUP BY seg
      ORDER BY seg"""))

  /** q315: PURGED TIME-SERIES CROSS-VALIDATION — the temporal face of
    * q241's leak-proof split (de Prado 2018's purged k-fold, the
    * standard guard wherever features aggregate across time): 4
    * contiguous month-quartile test windows, and around each an EMBARGO
    * of ±1 month whose rows join NEITHER side — because a feature
    * computed with a trailing window (q300's shape) straddles the
    * boundary and leaks test information into adjacent training rows.
    * Fold boundaries are pure integer arithmetic on the linear month
    * index (the q309 discipline); every order lands in exactly one of
    * train/embargo/test per fold, which the census proves in data
    * (per-fold totals are invariant). Scale: one scan, ×4 literal
    * fan-out, one aggregation — the split is a column program, never a
    * shuffle per fold. */
  val q315 = Q(
    "q315_purged_cv",
    (s, d) => {
      val mi = Tables.load(s, d, "orders")
        .select(
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
            .cast(LongType).as("mi"),
          Det.cents(col("o_totalprice")).as("rev_c"))
      val bounds = mi.agg(min(col("mi")).as("lo"),
        (max(col("mi")) - min(col("mi")) + 1).as("width"))
      mi.crossJoin(broadcast(bounds))
        .withColumn("fold",
          explode(expr("sequence(CAST(0 AS BIGINT), CAST(3 AS BIGINT))")))
        .withColumn("t_lo", expr("lo + fold * width div 4"))
        .withColumn("t_hi", expr("lo + (fold + 1) * width div 4 - 1"))
        .withColumn("role",
          when(col("mi").between(col("t_lo"), col("t_hi")), "test")
            .when(col("mi").between(col("t_lo") - 1, col("t_hi") + 1),
              "embargo")
            .otherwise("train"))
        .groupBy(col("fold"), col("role"))
        .agg(
          count(lit(1)).as("n_orders"),
          countDistinct(col("mi")).as("n_months"),
          sum(col("rev_c")).as("rev_c"))
        .orderBy(col("fold"), col("role"))
    },
    Some(s"""
      WITH o AS (
        SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                 AS BIGINT) AS mi,
               ${Det.centsSql("o_totalprice")} AS rev_c
        FROM orders
      ), bounds AS (
        SELECT min(mi) AS lo, max(mi) - min(mi) + 1 AS width FROM o
      ), folded AS (
        SELECT o.mi, o.rev_c, f.fold,
               b.lo + f.fold * b.width // 4 AS t_lo,
               b.lo + (f.fold + 1) * b.width // 4 - 1 AS t_hi
        FROM o, bounds b,
             (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS fold) f
      )
      SELECT fold,
             CASE WHEN mi BETWEEN t_lo AND t_hi THEN 'test'
                  WHEN mi BETWEEN t_lo - 1 AND t_hi + 1 THEN 'embargo'
                  ELSE 'train' END AS role,
             count(*) AS n_orders,
             count(DISTINCT mi) AS n_months,
             CAST(sum(rev_c) AS BIGINT) AS rev_c
      FROM folded
      GROUP BY 1, 2
      ORDER BY fold, role"""))

  /** q323: UPLIFT-MODEL DECILE EVALUATION — the incrementality readout
    * (Radcliffe's Qini shape) for any targeting model: rank the
    * population by model score, split each decile into its randomized
    * treatment/control arms, and ask where the TREATMENT EFFECT — not
    * the response — concentrates. Dosed: treatment = md5 half of the
    * customer key (content-randomized, the q54 discipline), score
    * bucket = value-domain decile of the account balance, and a
    * conversion hash whose threshold is 5 + 2·bucket when treated vs
    * 5 + bucket in control — so true per-bucket uplift is bucket/100,
    * linearly increasing, and the report must recover that slope.
    * Counts are exact; the rates and uplift are divisions of identical
    * operands; the cumulative incremental-conversions column (the Qini
    * numerator) re-weights control by the treated population — all from
    * a 10-row table after one scan. */
  val q323 = Q(
    "q323_uplift_deciles",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val scored = Tables.load(s, d, "customer")
        .select(
          col("c_custkey").as("k"),
          Det.cents(col("c_acctbal")).as("bal_c"))
        .withColumn("bucket",
          least(lit(9L), expr("(bal_c + 100000) * 10 div 1100000")))
        .withColumn("treated",
          expr(Det.hashSampleExpr("k").replace("<= 2", "<= 8")))
        .withColumn("converted",
          expr("(k * 29) % 100") <
            lit(5) + col("bucket") * when(col("treated"), 2L)
              .otherwise(1L))
      val per = scored
        .groupBy(col("bucket"))
        .agg(
          sum(when(col("treated"), 1L).otherwise(0L)).as("n_t"),
          sum(when(!col("treated"), 1L).otherwise(0L)).as("n_c"),
          sum(when(col("treated") && col("converted"), 1L).otherwise(0L))
            .as("conv_t"),
          sum(when(!col("treated") && col("converted"), 1L).otherwise(0L))
            .as("conv_c"))
      // cumulative incremental conversions via an EXPLICIT bucket-desc
      // fold over the prefix self-join (10×10 rows) — a running window
      // SUM over doubles is engine-order-dependent (DuckDB may
      // tree-aggregate frames), the q61 fixed-fold discipline is not
      val vExpr = "CAST(conv_t AS DOUBLE) - CAST(conv_c AS DOUBLE) * " +
        "(CAST(n_t AS DOUBLE) / CAST(n_c AS DOUBLE))"
      val prev = per.select(
        col("bucket").as("pb"),
        expr(vExpr).as("v"))
      per
        .withColumn("uplift",
          col("conv_t").cast(DoubleType) / col("n_t").cast(DoubleType) -
            col("conv_c").cast(DoubleType) / col("n_c").cast(DoubleType))
        .join(prev, col("pb") >= col("bucket"))
        .groupBy(col("bucket"), col("n_t"), col("n_c"), col("conv_t"),
          col("conv_c"), col("uplift"))
        .agg(expr("aggregate(array_sort(collect_list(struct(-pb, v))), " +
          "CAST(0 AS DOUBLE), (acc, x) -> acc + x.v)")
          .as("cum_incremental"))
        .select(col("bucket"), col("n_t"), col("n_c"), col("conv_t"),
          col("conv_c"), col("uplift"), col("cum_incremental"))
        .orderBy(desc("bucket"))
    },
    Some(s"""
      WITH scored AS (
        SELECT c_custkey AS k,
               least(9, (${Det.centsSql("c_acctbal")} + 100000) * 10
                 // 1100000) AS bucket,
               ${Det.hashSampleSql("c_custkey").replace("<= 2", "<= 8")}
                 AS treated
        FROM customer
      ), judged AS (
        SELECT bucket, treated,
               (k * 29) % 100 <
                 5 + bucket * CASE WHEN treated THEN 2 ELSE 1 END
                 AS converted
        FROM scored
      ), per AS (
        SELECT bucket,
               CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_t,
               CAST(sum(CASE WHEN NOT treated THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_c,
               CAST(sum(CASE WHEN treated AND converted THEN 1 ELSE 0 END)
                 AS BIGINT) AS conv_t,
               CAST(sum(CASE WHEN NOT treated AND converted
                        THEN 1 ELSE 0 END) AS BIGINT) AS conv_c
        FROM judged
        GROUP BY bucket
      )
      SELECT p.bucket, p.n_t, p.n_c, p.conv_t, p.conv_c,
             CAST(p.conv_t AS DOUBLE) / CAST(p.n_t AS DOUBLE)
               - CAST(p.conv_c AS DOUBLE) / CAST(p.n_c AS DOUBLE)
               AS uplift,
             list_reduce(list_transform(
               list(struct_pack(nb := -q.bucket,
                 v := CAST(q.conv_t AS DOUBLE) - CAST(q.conv_c AS DOUBLE)
                   * (CAST(q.n_t AS DOUBLE) / CAST(q.n_c AS DOUBLE)))
                 ORDER BY -q.bucket), x -> x.v),
               (acc, x) -> acc + x) AS cum_incremental
      FROM per p JOIN per q ON q.bucket >= p.bucket
      GROUP BY p.bucket, p.n_t, p.n_c, p.conv_t, p.conv_c
      ORDER BY p.bucket DESC"""))

  /** q324: WILSON SCORE INTERVALS — the confidence interval a rate
    * report should publish instead of the textbook Wald interval
    * (Wilson 1927; Brown-Cai-DasGupta 2001 showed Wald's coverage
    * collapses at small n and extreme p — exactly the regimes corpus
    * QA rates live in, and Wilson never leaves [0,1]). Everything is a
    * closed-form arithmetic program over exact integer counts: the
    * only non-integer inputs are the z literal — spelled
    * CAST(196 AS DOUBLE)/100 because a bare 1.96 parses DECIMAL in
    * Spark SQL but DOUBLE in DuckDB (the q37 literal lesson) — and
    * sqrt, which is IEEE-exact; identical operands through identical
    * expression trees make lo/hi bit-equal cross-engine. Dosed
    * conversion (hash-threshold per segment) so rates differ by group.
    * Scale: one scan, |segments| output rows. */
  val q324 = Q(
    "q324_wilson_ci",
    (s, d) => {
      val zSql = "(CAST(196 AS DOUBLE) / 100)"
      val counts = Tables.load(s, d, "customer")
        .withColumn("converted",
          expr("(c_custkey * 37) % 100") <
            lit(3) + (col("c_nationkey") % 5) * 4)
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("converted"), 1L).otherwise(0L)).as("k"))
      counts
        .withColumn("rate",
          col("k").cast(DoubleType) / col("n").cast(DoubleType))
        .withColumn("lo", expr(wilsonSql("k", "n", zSql, lower = true)))
        .withColumn("hi", expr(wilsonSql("k", "n", zSql, lower = false)))
        .select(col("seg"), col("n"), col("k"), col("rate"), col("lo"),
          col("hi"))
        .orderBy(col("seg"))
    },
    Some {
      val zSql = "(CAST(196 AS DOUBLE) / 100)"
      s"""
      WITH counts AS (
        SELECT c_mktsegment AS seg, count(*) AS n,
               CAST(sum(CASE WHEN (c_custkey * 37) % 100 <
                                  3 + (c_nationkey % 5) * 4
                             THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM customer
        GROUP BY 1
      )
      SELECT seg, n, k,
             CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
             ${wilsonSql("k", "n", zSql, lower = true)} AS lo,
             ${wilsonSql("k", "n", zSql, lower = false)} AS hi
      FROM counts
      ORDER BY seg"""
    })

  /** The Wilson bound as ONE shared SQL text over integer count columns
    * `k`/`n` — generated once so both engines evaluate the identical
    * expression tree (every subexpression is double arithmetic on
    * identical operands, hence bit-equal results). */
  private def wilsonSql(
      k: String, n: String, z: String, lower: Boolean): String = {
    val p = s"(CAST($k AS DOUBLE) / CAST($n AS DOUBLE))"
    val nd = s"CAST($n AS DOUBLE)"
    val half = s"sqrt(($p * (1 - $p) / $nd) + " +
      s"($z * $z / (4 * $nd * $nd))) * $z"
    val center = s"($p + $z * $z / (2 * $nd))"
    val sign = if (lower) "-" else "+"
    s"(($center $sign $half) / (1 + $z * $z / $nd))"
  }

  /** q329: NEYMAN-OPTIMAL STRATIFIED ALLOCATION — the sampling-design
    * step before any human-eval or annotation batch is drawn from a
    * corpus (Neyman 1934; Cochran, Sampling Techniques §5.5): allocate
    * a fixed budget B=100 across source strata proportional to
    * N_h·S_h, which minimizes the estimator variance at fixed cost.
    * Per-stratum variance comes from EXACT integer moments of n_chars
    * (n·Σx² − (Σx)² over DECIMAL(38,0)/HUGEINT — no float subtraction
    * of near-equal sums); the only doubles are one sqrt per stratum and
    * the allocation shares, computed from identical operands in an
    * identical order in both engines, with the double total folded in
    * SORTED-STRATUM order (the q61/q304 ordered-fold discipline).
    * Integerization is LARGEST-REMAINDER (Hamilton) rounding — floors
    * plus one extra seat to the largest fractional parts (ties to the
    * smaller source name) — so allocations sum to B exactly. Scale: one
    * scan for the moments, everything after runs on |strata| rows. */
  val q329 = Q(
    "q329_neyman_allocation",
    (s, d) => {
      val budget = 100L
      val m = Tables.load(s, d, "documents")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast(DecimalType(38, 0))).as("sx"),
          sum((col("n_chars") * col("n_chars"))
            .cast(DecimalType(38, 0))).as("sxx"))
        .withColumn("sd", sqrt(
          (col("n_docs") * col("sxx") - col("sx") * col("sx"))
            .cast(DoubleType) /
            (col("n_docs") * (col("n_docs") - 1)).cast(DoubleType)))
        .withColumn("w", col("n_docs").cast(DoubleType) * col("sd"))
      // Σw folded in sorted-source order — bit-stable cross-engine
      val tot = m
        .agg(expr("aggregate(transform(array_sort(" +
          "collect_list(struct(source, w))), p -> p.w), " +
          "CAST(0 AS DOUBLE), (acc, x) -> acc + x)").as("w_tot"))
      val shared = m.crossJoin(broadcast(tot))
        .withColumn("share",
          lit(budget).cast(DoubleType) * col("w") / col("w_tot"))
        .withColumn("flo", floor(col("share")).cast(LongType))
        .withColumn("rem", col("share") - col("flo").cast(DoubleType))
      val leftover = shared
        .agg((lit(budget) - sum(col("flo"))).as("extra"))
      shared.crossJoin(broadcast(leftover))
        .withColumn("pri", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(desc("rem"), col("source"))))
        .withColumn("alloc",
          col("flo") + when(col("pri") <= col("extra"), 1L).otherwise(0L))
        .select(col("source"), col("n_docs"), col("sd"),
          col("share"), col("alloc"))
        .orderBy(col("source"))
    },
    Some("""
      WITH m AS (
        SELECT source, count(*) AS n_docs,
               sum(n_chars) AS sx, sum(n_chars * n_chars) AS sxx
        FROM documents GROUP BY source
      ), sds AS (
        SELECT source, n_docs,
               sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)
                 / CAST(n_docs * (n_docs - 1) AS DOUBLE)) AS sd,
               CAST(n_docs AS DOUBLE)
                 * sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)
                     / CAST(n_docs * (n_docs - 1) AS DOUBLE)) AS w
        FROM m
      ), tot AS (
        SELECT list_reduce(
                 list_prepend(CAST(0 AS DOUBLE),
                   list(w ORDER BY source)), (acc, x) -> acc + x)
                 AS w_tot
        FROM sds
      ), shares AS (
        SELECT source, n_docs, sd,
               CAST(100 AS DOUBLE) * w / w_tot AS share,
               CAST(floor(CAST(100 AS DOUBLE) * w / w_tot) AS BIGINT)
                 AS flo,
               CAST(100 AS DOUBLE) * w / w_tot
                 - floor(CAST(100 AS DOUBLE) * w / w_tot) AS rem
        FROM sds, tot
      ), extra AS (
        SELECT 100 - CAST(sum(flo) AS BIGINT) AS extra FROM shares
      )
      SELECT source, n_docs, sd, share,
             CAST(flo + CASE WHEN row_number()
                 OVER (ORDER BY rem DESC, source) <= extra
               THEN 1 ELSE 0 END AS BIGINT) AS alloc
      FROM shares, extra
      ORDER BY source"""))

  /** q330: TOKENIZER FERTILITY PROFILE — tokens-per-word and
    * chars-per-token by language, the readout that prices a tokenizer
    * against a corpus (fertility near 1 = the vocabulary fits the
    * language; ≫1 = byte-fallback blowup — the standard multilingual
    * tokenizer audit, e.g. Rust et al. 2021 "How good is your
    * tokenizer?"). Words are whitespace tokens; "BPE-ish" tokens are
    * maximal alnum runs plus one token per other non-space char (the
    * regex both engines run verbatim: RE2 and Java agree on this
    * character-class subset). All counts are exact BIGINT sums; the two
    * ratios are ONE division each. Scale: stateless per-doc map + one
    * |langs|-row rollup. */
  val q330 = Q(
    "q330_tokenizer_fertility",
    (s, d) => {
      Tables.load(s, d, "documents")
        .select(col("lang"),
          expr("size(filter(split(text, ' ', -1), t -> t <> ''))")
            .cast(LongType).as("words"),
          expr("size(regexp_extract_all(lower(text), " +
            "'[a-z0-9]+|[^a-z0-9 ]', 0))").cast(LongType).as("toks"),
          length(col("text")).cast(LongType).as("chars"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("words")).as("n_words"),
          sum(col("toks")).as("n_tokens"),
          sum(col("chars")).as("n_chars"))
        .withColumn("fertility",
          col("n_tokens").cast(DoubleType) /
            col("n_words").cast(DoubleType))
        .withColumn("chars_per_token",
          col("n_chars").cast(DoubleType) /
            col("n_tokens").cast(DoubleType))
        .orderBy(col("lang"))
    },
    Some("""
      WITH per AS (
        SELECT lang,
               len(list_filter(string_split(text, ' '), t -> t <> ''))
                 AS words,
               len(regexp_extract_all(lower(text),
                 '[a-z0-9]+|[^a-z0-9 ]')) AS toks,
               length(text) AS chars
        FROM documents
      )
      SELECT lang, count(*) AS n_docs,
             CAST(sum(words) AS BIGINT) AS n_words,
             CAST(sum(toks) AS BIGINT) AS n_tokens,
             CAST(sum(chars) AS BIGINT) AS n_chars,
             CAST(sum(toks) AS DOUBLE) / CAST(sum(words) AS DOUBLE)
               AS fertility,
             CAST(sum(chars) AS DOUBLE) / CAST(sum(toks) AS DOUBLE)
               AS chars_per_token
      FROM per
      GROUP BY lang
      ORDER BY lang"""))

  /** q331: RAG DOCUMENT CHUNKING — fixed-size token windows with
    * overlap (chunk=50 tokens, stride=40 → 10-token overlap), the
    * retrieval-corpus build step between raw documents and the
    * embedding/ANN family (q26-q86): every retriever indexes CHUNKS,
    * and the overlap keeps boundary-straddling answers findable.
    * Output is the chunk TABLE (doc, index, token offset/count, md5
    * content fingerprint — the identity the downstream dedup/upsert
    * keys on), totally ordered. Tokenization is split(' ', -1) in both
    * engines (identical empty-token semantics, the r6 gotcha). Scale:
    * stateless per-doc fan-out of ~1/stride rows per token — linear,
    * partition-local, no shuffle until the final order. */
  val q331 = Q(
    "q331_rag_chunking",
    (s, d) => {
      Tables.load(s, d, "documents")
        .select(col("doc_id"), expr("split(text, ' ', -1)").as("toks"))
        .withColumn("start",
          explode(expr("sequence(0, size(toks) - 1, 40)")))
        .select(col("doc_id"),
          expr("start div 40").cast(LongType).as("chunk_idx"),
          col("start").cast(LongType).as("start_tok"),
          expr("slice(toks, start + 1, 50)").as("chunk"))
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
          expr("size(chunk)").cast(LongType).as("n_tok"),
          md5(expr("array_join(chunk, ' ')")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
      ), starts AS (
        SELECT doc_id, t, unnest(range(0, len(t), 40)) AS start
        FROM toks
      )
      SELECT doc_id, start // 40 AS chunk_idx, start AS start_tok,
             CAST(len(t[start + 1 : start + 50]) AS BIGINT) AS n_tok,
             md5(array_to_string(t[start + 1 : start + 50], ' '))
               AS chunk_md5
      FROM starts
      ORDER BY doc_id, chunk_idx"""))

  /** q334: DISTINCT ℓ-DIVERSITY AUDIT — the release gate k-anonymity
    * (q83) alone cannot provide (Machanavajjhala et al. 2007,
    * "ℓ-diversity: privacy beyond k-anonymity"): a quasi-identifier
    * group where every member shares ONE sensitive value leaks that
    * value even when the group is large. Groups are (priority, order
    * MONTH — month-level QI bins produce genuinely homogeneous groups
    * at the date-range edges, where status is a function of age, so
    * both verdicts fire); the sensitive attribute is order status;
    * distinct ℓ-diversity requires ≥ 2 distinct values to publish.
    * Output: the per-group audit table (size, ℓ, publish verdict) —
    * exact integer counts, a single rollup. Scale: one shuffle on the
    * QI key; count(DISTINCT) is the standard two-phase expand. */
  val q334 = Q(
    "q334_l_diversity",
    (s, d) => {
      Tables.load(s, d, "orders")
        .groupBy(col("o_orderpriority").as("pri"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .cast(LongType).as("ym"))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("o_orderstatus")).as("l_div"))
        .withColumn("published", col("l_div") >= 2)
        .select(col("pri"), col("ym"), col("n_rows"), col("l_div"),
          col("published"))
        .orderBy(col("pri"), col("ym"))
    },
    Some("""
      SELECT o_orderpriority AS pri,
             CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
               AS ym,
             count(*) AS n_rows,
             CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS l_div,
             count(DISTINCT o_orderstatus) >= 2 AS published
      FROM orders
      GROUP BY 1, 2
      ORDER BY pri, ym"""))

  /** q343: TRAINING-MIXTURE SELECTION UNDER A TOKEN BUDGET — the
    * greedy fractional-knapsack plan (Dantzig 1957; optimal for the
    * fractional relaxation) a corpus curator runs when the compute
    * budget buys only half the tokens: rank sources by quality DENSITY
    * (good-doc share), take whole sources down the ranking, split the
    * boundary source fractionally. Budget = ⌊total tokens / 2⌋,
    * computed in-query so the plan is scale-invariant. Exact: token
    * and good-doc counts are integer sums; density ties break to the
    * smaller source name; taken_tokens = min(tokens, max(0, B −
    * prev_cum)) is pure integer arithmetic off the sorted cumsum, and
    * take_frac is ONE division per source. Scale: one corpus scan to
    * the per-source rollup, then |sources|-row arithmetic. */
  val q343 = Q(
    "q343_mixture_knapsack",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val per = Tables.load(s, d, "documents")
        .select(col("source"),
          expr("size(filter(split(text, ' ', -1), t -> t <> ''))")
            .cast(LongType).as("toks"),
          when(col("n_chars") >= 400, 1L).otherwise(0L).as("good"))
        .groupBy(col("source"))
        .agg(sum(col("toks")).as("tokens"),
          sum(col("good")).as("n_good"),
          count(lit(1)).as("n_docs"))
        .withColumn("density",
          col("n_good").cast(DoubleType) / col("n_docs").cast(DoubleType))
      val budget = per.agg((sum(col("tokens")) / 2).cast(LongType)
        .as("budget"))
      per.crossJoin(broadcast(budget))
        .withColumn("pick_rank", row_number().over(
          Window.orderBy(desc("density"), col("source"))).cast(LongType))
        .withColumn("cum_tokens", sum(col("tokens")).over(
          Window.orderBy(desc("density"), col("source"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("taken_tokens",
          least(col("tokens"),
            greatest(lit(0L), col("budget") -
              (col("cum_tokens") - col("tokens")))))
        .withColumn("take_frac",
          col("taken_tokens").cast(DoubleType) /
            col("tokens").cast(DoubleType))
        .select(col("pick_rank"), col("source"), col("tokens"),
          col("n_good"), col("density"), col("cum_tokens"),
          col("taken_tokens"), col("take_frac"))
        .orderBy(col("pick_rank"))
    },
    Some("""
      WITH per AS (
        SELECT source,
               CAST(sum(len(list_filter(string_split(text, ' '),
                 t -> t <> ''))) AS BIGINT) AS tokens,
               CAST(sum(CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_good,
               count(*) AS n_docs
        FROM documents GROUP BY source
      ), b AS (
        SELECT CAST(sum(tokens) // 2 AS BIGINT) AS budget FROM per
      ), ranked AS (
        SELECT source, tokens, n_good,
               CAST(n_good AS DOUBLE) / CAST(n_docs AS DOUBLE) AS density,
               CAST(row_number() OVER w AS BIGINT) AS pick_rank,
               CAST(sum(tokens) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS BIGINT) AS cum_tokens,
               budget
        FROM per, b
        WINDOW w AS (ORDER BY CAST(n_good AS DOUBLE)
                       / CAST(n_docs AS DOUBLE) DESC, source)
      )
      SELECT pick_rank, source, tokens, n_good, density, cum_tokens,
             CAST(least(tokens, greatest(0, budget
               - (cum_tokens - tokens))) AS BIGINT) AS taken_tokens,
             CAST(least(tokens, greatest(0, budget
               - (cum_tokens - tokens))) AS DOUBLE)
               / CAST(tokens AS DOUBLE) AS take_frac
      FROM ranked
      ORDER BY pick_rank"""))

  /** q357: DECISION-STUMP THRESHOLD LEARNING (CART's depth-1 case,
    * Breiman et al. 1984; the 1R baseline of Holte 1993) — how a
    * curation pipeline LEARNS a quality-filter cutoff instead of
    * hand-picking one: given a binary label, find the doc-length
    * threshold minimizing weighted Gini impurity. Dosed label:
    * good = n_chars + (doc_id·2654435761)%400 − 200 > 306 (median-
    * anchored, noise ±200 — correlated with length but not separable,
    * so the learned split is non-trivial and imperfect). Candidate
    * thresholds are the 16-char bucket boundaries; cumulative class
    * counts over the SORTED bucket table give every split's
    * (n_L, pos_L) in one window pass. The selection key
    * f = (pos_L²+neg_L²)/n_L + (pos_R²+neg_R²)/n_R (maximizing f ⇔
    * minimizing weighted Gini = 1 − f/N) is a double from identical
    * integer operands, argmax'd with a full tiebreak (f DESC, bucket
    * ASC LIMIT 1) — bit-identical doubles order identically. Stump
    * accuracy from per-side majority classes, exact counts. Scale: one
    * scan to ≤ max_len/16 bucket rows; the window and argmax run on
    * that bounded table — candidate thresholds never multiply against
    * the corpus. */
  val q357 = Q(
    "q357_gini_stump",
    (s, d) => {
      val labeled = Tables.load(s, d, "documents")
        .select(
          expr("n_chars div 16").as("b"),
          when(expr("n_chars + (doc_id * 2654435761L) % 400 - 200 > 306"),
            1L).otherwise(0L).as("y"))
      val buckets = labeled.groupBy(col("b"))
        .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
      val w = Window.orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = buckets
        .withColumn("nl", sum(col("cnt")).over(w))
        .withColumn("pl", sum(col("pos")).over(w))
      val grand = buckets.agg(
        sum(col("cnt")).as("n_total"), sum(col("pos")).as("p_total"))
      cum.crossJoin(broadcast(grand))
        .filter(col("nl") < col("n_total")) // right side must be non-empty
        .withColumn("nr", col("n_total") - col("nl"))
        .withColumn("pr", col("p_total") - col("pl"))
        .withColumn("f",
          (col("pl") * col("pl") + (col("nl") - col("pl")) *
            (col("nl") - col("pl"))).cast(DoubleType) /
            col("nl").cast(DoubleType) +
            (col("pr") * col("pr") + (col("nr") - col("pr")) *
              (col("nr") - col("pr"))).cast(DoubleType) /
              col("nr").cast(DoubleType))
        .orderBy(col("f").desc, col("b").asc)
        .limit(1)
        .select(
          ((col("b") + 1) * 16).as("threshold_chars"),
          col("nl").as("n_left"), col("nr").as("n_right"),
          col("pl").as("pos_left"), col("pr").as("pos_right"),
          (lit(1.0) -
            (col("p_total") * col("p_total") +
              (col("n_total") - col("p_total")) *
                (col("n_total") - col("p_total"))).cast(DoubleType) /
              (col("n_total") * col("n_total")).cast(DoubleType))
            .as("gini_parent"),
          (lit(1.0) - col("f") / col("n_total").cast(DoubleType))
            .as("gini_split"),
          ((greatest(col("pl"), col("nl") - col("pl")) +
            greatest(col("pr"), col("nr") - col("pr")))
            .cast(DoubleType) / col("n_total").cast(DoubleType))
            .as("accuracy"))
        .withColumn("gain", col("gini_parent") - col("gini_split"))
    },
    Some("""
      WITH labeled AS (
        SELECT n_chars // 16 AS b,
               CASE WHEN n_chars + (doc_id * 2654435761) % 400 - 200 > 306
                    THEN 1 ELSE 0 END AS y
        FROM documents
      ), buckets AS (
        SELECT b, count(*) AS cnt, CAST(sum(y) AS BIGINT) AS pos
        FROM labeled GROUP BY b
      ), cum AS (
        SELECT b,
               CAST(sum(cnt) OVER (ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS nl,
               CAST(sum(pos) OVER (ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS pl
        FROM buckets
      ), grand AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
               CAST(sum(pos) AS BIGINT) AS p_total
        FROM buckets
      ), scored AS (
        SELECT b, nl, pl, n_total - nl AS nr, p_total - pl AS pr,
               n_total, p_total,
               CAST(pl * pl + (nl - pl) * (nl - pl) AS DOUBLE)
                 / CAST(nl AS DOUBLE)
               + CAST((p_total - pl) * (p_total - pl)
                      + ((n_total - nl) - (p_total - pl))
                        * ((n_total - nl) - (p_total - pl)) AS DOUBLE)
                 / CAST(n_total - nl AS DOUBLE) AS f
        FROM cum CROSS JOIN grand
        WHERE nl < n_total
      ), best AS (
        SELECT * FROM scored ORDER BY f DESC, b ASC LIMIT 1
      )
      SELECT (b + 1) * 16 AS threshold_chars,
             nl AS n_left, nr AS n_right,
             pl AS pos_left, pr AS pos_right,
             1.0 - CAST(p_total * p_total
                        + (n_total - p_total) * (n_total - p_total)
                     AS DOUBLE)
                   / CAST(n_total * n_total AS DOUBLE) AS gini_parent,
             1.0 - f / CAST(n_total AS DOUBLE) AS gini_split,
             CAST(greatest(pl, nl - pl) + greatest(pr, nr - pr) AS DOUBLE)
               / CAST(n_total AS DOUBLE) AS accuracy,
             (1.0 - CAST(p_total * p_total
                         + (n_total - p_total) * (n_total - p_total)
                      AS DOUBLE)
                    / CAST(n_total * n_total AS DOUBLE))
               - (1.0 - f / CAST(n_total AS DOUBLE)) AS gain
      FROM best"""))

  private val Shards = 8

  /** q359: BALANCED SHARD-MANIFEST GENERATION (the data-loader prep
    * step after q343 picks the mixture and q90 packs sequences: split
    * the corpus into S equal-weight shards so every trainer rank reads
    * the same byte budget). Serpentine (boustrophedon) assignment over
    * the cost-descending order — rank r goes to shard pos or S−1−pos
    * alternating per pass — the classic one-pass balancer: every pass
    * hands each shard exactly one item and reverses direction, so shard
    * sums stay within the largest single item of each other without any
    * driver-side bin state. The global rank comes from
    * GlobalOrder.withOrderedCumsum (range-partitioned, never a
    * single-partition window); everything after it is integer
    * arithmetic on (rank − 1). EXACT: counts and byte totals are
    * integers; share is one division. Scale: one range shuffle for the
    * rank + one S-row aggregate — no driver loop, no skew (the order
    * is by size, the assignment round-robins). */
  val q359 = Q(
    "q359_shard_manifest",
    (s, d) => {
      import graft.operators.GlobalOrder
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("n_chars"))
      val ranked = GlobalOrder.withOrderedCumsum(
        docs, Seq(col("n_chars").desc, col("doc_id").asc), lit(1L), "rk")
        .withColumn("pass", expr(s"(rk - 1) div $Shards"))
        .withColumn("pos", expr(s"(rk - 1) % $Shards"))
        .withColumn("shard",
          when(expr("pass % 2 = 0"), col("pos"))
            .otherwise(lit(Shards - 1) - col("pos")))
      val grand = docs.agg(sum(col("n_chars")).as("grand_chars"))
      ranked.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          max(col("n_chars")).as("max_doc_chars"))
        .crossJoin(broadcast(grand))
        .select(col("shard"), col("n_docs"), col("total_chars"),
          col("max_doc_chars"),
          (col("total_chars").cast(DoubleType) /
            col("grand_chars").cast(DoubleType)).as("share"))
        .orderBy(col("shard"))
    },
    Some(s"""
      WITH ranked AS (
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rk
        FROM documents
      ), assigned AS (
        SELECT doc_id, n_chars,
               CASE WHEN ((rk - 1) // $Shards) % 2 = 0
                    THEN (rk - 1) % $Shards
                    ELSE ${Shards - 1} - (rk - 1) % $Shards END AS shard
        FROM ranked
      ), grand AS (
        SELECT CAST(sum(n_chars) AS BIGINT) AS grand_chars FROM documents
      )
      SELECT shard, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             max(n_chars) AS max_doc_chars,
             CAST(sum(n_chars) AS DOUBLE) / CAST(grand_chars AS DOUBLE)
               AS share
      FROM assigned CROSS JOIN grand
      GROUP BY shard, grand_chars
      ORDER BY shard"""))

  private val CoverK = 5

  /** q360: GREEDY MAX-COVERAGE DATA SELECTION (Nemhauser, Wolsey &
    * Fisher 1978 — the (1−1/e) greedy for monotone submodular
    * maximization; the coverage-based subset-selection shape of
    * facility-location data pruning): pick K documents that together
    * cover the most vocabulary, one argmax of MARGINAL gain per round —
    * how a pipeline seeds a diverse eval panel or dedups a fine-tuning
    * set by lexical coverage (the lexical twin of q305's embedding-space
    * k-center and q157's MMR). Each round joins the token table against
    * the covered set (left-anti) and takes ONE bounded argmax row
    * (gain DESC, doc_id ASC — full tiebreak); a doc whose tokens are
    * all covered drops out of the gain table entirely (both engines
    * agree: no rows → no candidate). EXACT: gains are integer counts of
    * first-cover tokens; cumulative coverage is their sum (each token
    * counted exactly once, at its covering round); the fraction is one
    * division. The coverage unit is the q24 shingle universe (word
    * 3-grams — single word types saturate after one pick on any corpus
    * with a bounded vocabulary; shingles grow with the corpus), shared
    * verbatim from Dedup's one definition. Scale: K bounded rounds ×
    * edge-sized (doc, shingle) joins with a broadcast covered set —
    * never doc×doc; the K collects are 1-row argmaxes (the q305/q59
    * discipline). */
  val q360 = Q(
    "q360_coverage_greedy",
    (s, d) => {
      import graft.Caches.Tracked
      import s.implicits._
      val toks = Tables.load(s, d, "documents")
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"),
          explode(expr(Dedup.shinglesExpr)).as("tok"))
        .distinct()
        .persistTracked()
      val vocab = toks.agg(countDistinct(col("tok"))).as[Long].head()
      var picked = List.empty[(Long, Long, Long)] // (pick, doc, gain)
      (1 to CoverK).foreach { r =>
        val remaining =
          if (picked.isEmpty) toks
          else toks.filter(!col("doc_id").isin(picked.map(_._2): _*))
        // covered tokens re-derived LAZILY from the picked ids over the
        // cached token table (r10 round-close, guide §2.4): the
        // per-round distinct+localCheckpoint maintenance job disappears
        // — the broadcast side builds inside the argmax job itself, and
        // the lineage stays flat by construction (one isin filter over
        // the cache, K ≤ 5 ids). Same covered set every round.
        val gains = (
          if (picked.isEmpty) remaining
          else remaining.join(
            broadcast(toks
              .filter(col("doc_id").isin(picked.map(_._2): _*))
              .select(col("tok")).distinct()),
            Seq("tok"), "left_anti"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
        val best = gains.orderBy(col("gain").desc, col("doc_id").asc)
          .limit(1).as[(Long, Long)].head() // bounded 1-row argmax
        picked = picked :+ ((r.toLong, best._1, best._2))
      }
      val cum = picked.scanLeft(0L)(_ + _._3).tail
      picked.zip(cum)
        .map { case ((p, id, g), c) =>
          (p, id, g, c, c.toDouble / vocab.toDouble) }
        .toDF("pick", "doc_id", "gain", "cum_covered", "coverage_frac")
        .orderBy(col("pick"))
    },
    Some {
      val peels = (2 to CoverK).map { r =>
        val prevSel = (1 until r).map(i => s"SELECT doc_id FROM sel$i")
          .mkString(" UNION ALL ")
        s"""
        g$r AS (
          SELECT t.doc_id, count(*) AS gain
          FROM toks t
          WHERE t.doc_id NOT IN ($prevSel)
            AND t.tok NOT IN (SELECT tok FROM cov${r - 1})
          GROUP BY t.doc_id
        ), sel$r AS (
          SELECT doc_id, gain FROM g$r ORDER BY gain DESC, doc_id LIMIT 1
        ), cov$r AS (
          SELECT tok FROM cov${r - 1}
          UNION
          SELECT t.tok FROM toks t JOIN sel$r u ON t.doc_id = u.doc_id
        )"""
      }
      val picks = (1 to CoverK).map(r =>
        s"SELECT $r AS pick, doc_id, gain FROM sel$r")
        .mkString(" UNION ALL ")
      s"""
      WITH toks AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest(${Dedup.shinglesSql}) AS tok
              FROM documents) r
      ), vocab AS (
        SELECT count(DISTINCT tok) AS v FROM toks
      ), sel1 AS (
        SELECT doc_id, count(*) AS gain FROM toks GROUP BY doc_id
        ORDER BY gain DESC, doc_id LIMIT 1
      ), cov1 AS (
        SELECT DISTINCT t.tok FROM toks t JOIN sel1 u
          ON t.doc_id = u.doc_id
      ), ${peels.mkString(", ")}
      SELECT CAST(pick AS BIGINT) AS pick,
             CAST(doc_id AS BIGINT) AS doc_id,
             CAST(gain AS BIGINT) AS gain,
             CAST(sum(gain) OVER (ORDER BY pick
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_covered,
             CAST(sum(gain) OVER (ORDER BY pick
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) / CAST(v AS DOUBLE) AS coverage_frac
      FROM ($picks) p CROSS JOIN vocab
      ORDER BY pick"""
    })

  /** q365: GROUP-FAIRNESS AUDIT — demographic parity and equalized
    * odds (Dwork et al. 2012; Hardt, Price & Srebro 2016) over a
    * quality-classifier's decisions per language group: the audit a
    * curation pipeline publishes before letting a learned filter
    * (q84/q357) gate a multilingual corpus, because a filter that
    * passes one language's documents at a different rate — or with
    * different error rates given the same true quality — silently
    * skews the training mix. Dosed: a shared latent truth (u < 30) and
    * a decision whose threshold SHIFTS per language
    * ((length(lang)·7 + ascii(first char)) % 10), so parity and odds
    * gaps are real and differ by group. EXACT: every rate is one
    * division of integer CASE-sums; gaps subtract identical doubles;
    * the ALL reference row comes from the same aggregate via a
    * broadcast cross join. Scale: one scan to per-lang CASE-sums;
    * |langs| rows. */
  val q365 = Q(
    "q365_fairness_audit",
    (s, d) => {
      import graft.Caches.Tracked
      val scored = Tables.load(s, d, "documents")
        .withColumn("u", expr("(doc_id * 2654435761L) % 100"))
        .withColumn("t", (col("u") < 30).cast("int").cast("long"))
        .withColumn("shift",
          expr("(length(lang) * 7 + ascii(substring(lang, 1, 1))) % 10"))
        .withColumn("p",
          (expr("u + (doc_id * 7919) % 20 - 10") <
            col("shift") + 30).cast("int").cast("long"))
      val cells = scored.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("p")).as("n_pos"),
          sum(when(col("t") === 1 && col("p") === 1, 1L).otherwise(0L))
            .as("tp"),
          sum(when(col("t") === 0 && col("p") === 1, 1L).otherwise(0L))
            .as("fp"),
          sum(col("t")).as("n_t"))
        .persistTracked()
      val rates = cells.select(
        col("lang"), col("n"),
        (col("n_pos").cast(DoubleType) / col("n").cast(DoubleType))
          .as("pos_rate"),
        (col("tp").cast(DoubleType) / col("n_t").cast(DoubleType))
          .as("tpr"),
        (col("fp").cast(DoubleType) /
          (col("n") - col("n_t")).cast(DoubleType)).as("fpr"))
      val overall = cells.agg(
          sum(col("n")).as("na"), sum(col("n_pos")).as("pa"),
          sum(col("tp")).as("tpa"), sum(col("fp")).as("fpa"),
          sum(col("n_t")).as("ta"))
        .select(
          (col("pa").cast(DoubleType) / col("na").cast(DoubleType))
            .as("pos_rate_all"),
          (col("tpa").cast(DoubleType) / col("ta").cast(DoubleType))
            .as("tpr_all"),
          (col("fpa").cast(DoubleType) /
            (col("na") - col("ta")).cast(DoubleType)).as("fpr_all"))
      rates.crossJoin(broadcast(overall))
        .select(col("lang"), col("n"), col("pos_rate"), col("tpr"),
          col("fpr"),
          (col("pos_rate") - col("pos_rate_all")).as("dp_gap"),
          greatest(abs(col("tpr") - col("tpr_all")),
            abs(col("fpr") - col("fpr_all"))).as("eo_gap"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH scored AS (
        SELECT lang,
               CASE WHEN (doc_id * 2654435761) % 100 < 30
                    THEN 1 ELSE 0 END AS t,
               CASE WHEN (doc_id * 2654435761) % 100
                           + (doc_id * 7919) % 20 - 10
                         < (length(lang) * 7
                            + ascii(substring(lang, 1, 1))) % 10 + 30
                    THEN 1 ELSE 0 END AS p
        FROM documents
      ), cells AS (
        SELECT lang, count(*) AS n,
               CAST(sum(p) AS BIGINT) AS n_pos,
               CAST(sum(CASE WHEN t = 1 AND p = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS tp,
               CAST(sum(CASE WHEN t = 0 AND p = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS fp,
               CAST(sum(t) AS BIGINT) AS n_t
        FROM scored GROUP BY lang
      ), rates AS (
        SELECT lang, n,
               CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate,
               CAST(tp AS DOUBLE) / CAST(n_t AS DOUBLE) AS tpr,
               CAST(fp AS DOUBLE) / CAST(n - n_t AS DOUBLE) AS fpr
        FROM cells
      ), overall AS (
        SELECT CAST(sum(n_pos) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
                 AS pos_rate_all,
               CAST(sum(tp) AS DOUBLE) / CAST(sum(n_t) AS DOUBLE)
                 AS tpr_all,
               CAST(sum(fp) AS DOUBLE)
                 / CAST(sum(n) - sum(n_t) AS DOUBLE) AS fpr_all
        FROM cells
      )
      SELECT lang, n, pos_rate, tpr, fpr,
             pos_rate - pos_rate_all AS dp_gap,
             greatest(abs(tpr - tpr_all), abs(fpr - fpr_all)) AS eo_gap
      FROM rates CROSS JOIN overall
      ORDER BY lang"""))

  private val IpfRounds = 3

  /** q372: ITERATIVE PROPORTIONAL FITTING / RAKING (Deming & Stephan
    * 1940; the survey-weighting workhorse, and exactly how a training
    * mix is rebalanced to TARGET MARGINALS — "equal share per language
    * AND equal share per source" — when the joint (lang × source) cell
    * you can actually sample from is skewed): start from the observed
    * cell counts and alternately scale rows then columns to their
    * targets for 3 rounds. The iterated doubles are bit-equal
    * cross-engine because every marginal sum folds its cells in a FIXED
    * key order (the q304 discipline: Spark
    * aggregate(array_sort(collect_list)) ↔ DuckDB
    * list_reduce(list_prepend(0.0, list(... ORDER BY)))) and every
    * scale is a division of identical operands. Targets are N/|langs|
    * and N/|sources| from exact integers. Output: final cell weights
    * with the achieved LANGUAGE marginals — each round ends on the
    * source scaling, so source sums sit exactly on target and the
    * language sums expose the residual IPF gap that the next round
    * would shrink.
    * Scale: the corpus collapses to |langs|×|sources| cells in one
    * scan; the rounds run on that metadata-sized table. */
  val q372 = Q(
    "q372_ipf_raking",
    (s, d) => {
      import graft.Caches.Tracked
      val cells = Tables.load(s, d, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
        .persistTracked()
      val tot = cells.agg(sum(col("n")).as("total"),
        countDistinct(col("lang")).as("nl"),
        countDistinct(col("source")).as("ns"))
      var w = cells.crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n"),
          col("n").cast(DoubleType).as("w"),
          (col("total").cast(DoubleType) / col("nl").cast(DoubleType))
            .as("t_lang"),
          (col("total").cast(DoubleType) / col("ns").cast(DoubleType))
            .as("t_src"))
      (1 to IpfRounds).foreach { _ =>
        val rs = w.groupBy(col("lang"))
          .agg(expr("aggregate(array_sort(collect_list(struct(source, w))), " +
            "CAST(0 AS DOUBLE), (acc, x) -> acc + x.w)").as("row_sum"))
        w = w.join(broadcast(rs), Seq("lang"))
          .withColumn("w", col("w") * (col("t_lang") / col("row_sum")))
          .drop("row_sum")
        val cs = w.groupBy(col("source"))
          .agg(expr("aggregate(array_sort(collect_list(struct(lang, w))), " +
            "CAST(0 AS DOUBLE), (acc, x) -> acc + x.w)").as("col_sum"))
        w = w.join(broadcast(cs), Seq("source"))
          .withColumn("w", col("w") * (col("t_src") / col("col_sum")))
          .drop("col_sum")
          // flatten the per-round lineage: each scaling reads w TWICE
          // (marginal + join), so an uncheckpointed chain re-executes
          // the whole history 2^rounds times (measured: 27 s warm at
          // sf0.1 for a 100-row table; 0.9 s after)
          .checkpointTracked()
      }
      val finalRow = w.groupBy(col("lang"))
        .agg(expr("aggregate(array_sort(collect_list(struct(source, w))), " +
          "CAST(0 AS DOUBLE), (acc, x) -> acc + x.w)").as("lang_sum"))
      w.join(broadcast(finalRow), Seq("lang"))
        .select(col("lang"), col("source"), col("n"), col("w"),
          (col("w") / col("n").cast(DoubleType)).as("rake_factor"),
          col("lang_sum"))
        .orderBy(col("lang"), col("source"))
    },
    Some {
      val rounds = (1 to IpfRounds).map { t =>
        s"""
        r$t AS (
          SELECT lang, source, n, t_lang, t_src,
                 w * (t_lang / row_sum) AS w
          FROM (
            SELECT c.*, rs.row_sum
            FROM w${t - 1} c
            JOIN (SELECT lang,
                         list_reduce(list_prepend(CAST(0 AS DOUBLE),
                             list(w ORDER BY source)),
                           (acc, x) -> acc + x) AS row_sum
                  FROM w${t - 1} GROUP BY lang) rs
              ON rs.lang = c.lang) x
        ), w$t AS (
          SELECT lang, source, n, t_lang, t_src,
                 w * (t_src / col_sum) AS w
          FROM (
            SELECT c.*, cs.col_sum
            FROM r$t c
            JOIN (SELECT source,
                         list_reduce(list_prepend(CAST(0 AS DOUBLE),
                             list(w ORDER BY lang)),
                           (acc, x) -> acc + x) AS col_sum
                  FROM r$t GROUP BY source) cs
              ON cs.source = c.source) x
        )"""
      }
      s"""
      WITH cells AS (
        SELECT lang, source, count(*) AS n FROM documents
        GROUP BY lang, source
      ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS total,
               count(DISTINCT lang) AS nl,
               count(DISTINCT source) AS ns
        FROM cells
      ), w0 AS (
        SELECT lang, source, n, CAST(n AS DOUBLE) AS w,
               CAST(total AS DOUBLE) / CAST(nl AS DOUBLE) AS t_lang,
               CAST(total AS DOUBLE) / CAST(ns AS DOUBLE) AS t_src
        FROM cells CROSS JOIN tot
      ), ${rounds.mkString(", ")}, fr AS (
        SELECT lang,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list(w ORDER BY source)), (acc, x) -> acc + x)
                 AS lang_sum
        FROM w$IpfRounds GROUP BY lang
      )
      SELECT c.lang, c.source, c.n, c.w,
             c.w / CAST(c.n AS DOUBLE) AS rake_factor,
             fr.lang_sum
      FROM w$IpfRounds c JOIN fr ON fr.lang = c.lang
      ORDER BY c.lang, c.source"""
    })

  /** q386: t-CLOSENESS AUDIT OVER AN ORDERED SENSITIVE ATTRIBUTE (Li,
    * Li, Venkatasubramanian ICDE 2007, "t-Closeness: Privacy Beyond
    * k-Anonymity and ℓ-Diversity") — the third rung of the release-gate
    * ladder after q83 (k-anonymity) and q334 (ℓ-diversity): a group can
    * be large AND diverse yet still leak if its sensitive-value
    * DISTRIBUTION sits far from the table's. For a numeric sensitive
    * attribute the distance is the Earth Mover's Distance under the
    * ordered metric (their §4.2):
    *   t = (1/(m−1)) · Σ_{i<m} |P_cum(i) − Q_cum(i)|
    * over m=10 fixed $50k price buckets. EXACT: the absolute terms are
    * cross-multiplied integers |cumP·N − cumQ·n_g| accumulated in
    * DECIMAL(38,0)/HUGEINT (the q333 discipline), numerator and
    * denominator (9·n_g·N) converted once via the correctly-rounded
    * path (Det.hugeDoubleSql — DuckDB's native int128→double
    * double-rounds), ONE division. QI = (priority, year) with an
    * n_g ≥ 20 k-anonymity pre-gate (t over tiny groups measures
    * sampling noise, not disclosure — the ladder composes). Dosed: a
    * +$200k shift on (priority 1, odd years) rows moves those groups 4
    * buckets right — dosed t ≥ 0.215, clean t ≤ 0.150 at every SF
    * (parameter-swept), so the 0.18 release bar separates
    * deterministically. Scale: one scan to a (group × 10)-cell rollup;
    * the dense bucket grid is a 10-element generator, windows run per
    * group — never a corpus-sized single partition. */
  val q386 = Q(
    "q386_t_closeness",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import graft.Caches.Tracked
      val cells = Tables.load(s, d, "orders")
        .select(col("o_orderpriority").as("pri"),
          year(col("o_orderdate")).cast(LongType).as("yr"),
          (Det.cents(col("o_totalprice")) +
            when(col("o_orderpriority").like("1%") &&
              year(col("o_orderdate")) % 2 === 1, 20000000L)
              .otherwise(0L)).as("cents_dosed"))
        .select(col("pri"), col("yr"),
          expr("least(cents_dosed div 5000000, CAST(9 AS BIGINT))")
            .as("b"))
        .groupBy(col("pri"), col("yr"), col("b"))
        .agg(count(lit(1)).as("n_gb"))
        .persistTracked()
      val grid = cells.select(col("pri"), col("yr")).distinct()
        .select(col("pri"), col("yr"),
          explode(expr("sequence(CAST(0 AS BIGINT), CAST(9 AS BIGINT))"))
            .as("b"))
        .join(cells, Seq("pri", "yr", "b"), "left_outer")
        .withColumn("n_gb", coalesce(col("n_gb"), lit(0L)))
      val global = cells.groupBy(col("b")).agg(sum(col("n_gb")).as("n_b"))
      val totals = cells.agg(sum(col("n_gb")).as("n_total"))
      val wg = Window.partitionBy(col("pri"), col("yr")).orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wq = Window.orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withCums = grid
        .join(global.withColumn("cum_q", sum(col("n_b")).over(wq)),
          Seq("b"))
        .crossJoin(broadcast(totals))
        .withColumn("cum_p", sum(col("n_gb")).over(wg))
        .withColumn("n_g",
          sum(col("n_gb")).over(Window.partitionBy(col("pri"), col("yr"))))
      withCums
        .groupBy(col("pri"), col("yr"))
        .agg(
          max(col("n_g")).as("n_rows"),
          sum(when(col("b") < 9,
            abs(col("cum_p") * col("n_total") - col("cum_q") * col("n_g"))
              .cast(DecimalType(38, 0))).otherwise(lit(0).cast(
            DecimalType(38, 0)))).as("num"),
          (max(col("n_g")).cast(DecimalType(38, 0)) *
            max(col("n_total")) * 9).as("den"))
        .filter(col("n_rows") >= 20)
        .select(col("pri"), col("yr"), col("n_rows"),
          (col("num").cast(DoubleType) / col("den").cast(DoubleType))
            .as("t_close"))
        .withColumn("violates", col("t_close") > 0.18)
        .orderBy(col("pri"), col("yr"))
    },
    Some(s"""
      WITH cells AS (
        SELECT o_orderpriority AS pri,
               CAST(year(o_orderdate) AS BIGINT) AS yr,
               least((${Det.centsSql("o_totalprice")} +
                 CASE WHEN o_orderpriority LIKE '1%'
                        AND year(o_orderdate) % 2 = 1
                      THEN 20000000 ELSE 0 END) // 5000000, 9) AS b,
               count(*) AS n_gb
        FROM orders GROUP BY 1, 2, 3
      ), grid AS (
        SELECT g.pri, g.yr, bb.b, coalesce(c.n_gb, 0) AS n_gb
        FROM (SELECT DISTINCT pri, yr FROM cells) g
        CROSS JOIN (SELECT unnest(range(0, 10)) AS b) bb
        LEFT JOIN cells c ON c.pri = g.pri AND c.yr = g.yr AND c.b = bb.b
      ), gtot AS (
        SELECT b, CAST(sum(n_gb) AS BIGINT) AS n_b FROM cells GROUP BY b
      ), totals AS (
        SELECT CAST(sum(n_gb) AS BIGINT) AS n_total FROM cells
      ), cums AS (
        SELECT g.pri, g.yr, g.b, t.n_total,
               sum(g.n_gb) OVER (PARTITION BY g.pri, g.yr ORDER BY g.b
                 ROWS UNBOUNDED PRECEDING) AS cum_p,
               sum(gl.n_b) OVER (PARTITION BY g.pri, g.yr ORDER BY g.b
                 ROWS UNBOUNDED PRECEDING) AS cum_q,
               sum(g.n_gb) OVER (PARTITION BY g.pri, g.yr) AS n_g
        FROM grid g JOIN gtot gl ON gl.b = g.b CROSS JOIN totals t
      ), report AS (
        SELECT pri, yr, CAST(max(n_g) AS BIGINT) AS n_rows,
               sum(CASE WHEN b < 9 THEN
                 CAST(abs(cum_p * n_total - cum_q * n_g) AS HUGEINT)
                 ELSE CAST(0 AS HUGEINT) END) AS num,
               CAST(max(n_g) AS HUGEINT) * max(n_total) * 9 AS den
        FROM cums GROUP BY pri, yr
      )
      SELECT pri, yr, n_rows,
             ${Det.hugeDoubleSql("num")} / ${Det.hugeDoubleSql("den")}
               AS t_close,
             ${Det.hugeDoubleSql("num")} / ${Det.hugeDoubleSql("den")}
               > 0.18 AS violates
      FROM report
      WHERE n_rows >= 20
      ORDER BY pri, yr"""))

  /** q392: DISTRIBUTION MATCHING VIA DETERMINISTIC REJECTION SAMPLING
    * (von Neumann 1951 rejection; the "resample the crawl to look like
    * the reference corpus" move of DoReMi/DSIR-style data curation,
    * here on an observable feature) — reshape the raw pool's LENGTH
    * distribution to match a target source's: accept a raw doc in
    * bucket b with probability min(1, t_b·R / (r_b·T)), so accepted
    * mass ∝ the target share wherever the raw pool over-represents a
    * bucket. FULLY DETERMINISTIC: the acceptance draw is the doc-id
    * hash u ∈ [0, 10⁶) and the test u·r_b·T < t_b·R·10⁶ is
    * cross-multiplied EXACT integers (DECIMAL(38,0)/HUGEINT — the
    * product overflows int64 at corpus scale), so both engines accept
    * the identical doc set; no double ever enters the decision.
    * Report: per-bucket raw/target/accepted counts and shares plus the
    * corpus-level L1 (total-variation×2) distance before and after —
    * the spec gates post < pre at every SF (measured: 0.076→0.026,
    * 0.290→0.078, 0.076→0.054). Scale: two bounded rollups (4 buckets)
    * broadcast onto one corpus scan; the decision is per-row local. */
  val q392 = Q(
    "q392_rejection_match",
    (s, d) => {
      import graft.Caches.Tracked
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          expr("least(n_chars div 128, CAST(3 AS BIGINT))").as("b"),
          expr("(doc_id * 2654435761L) % 1000000").as("u"))
        .persistTracked()
      val raw = docs.filter(col("source") =!= "src1")
      val counts = raw.groupBy(col("b")).agg(count(lit(1)).as("raw_n"))
        .join(docs.filter(col("source") === "src1")
          .groupBy(col("b")).agg(count(lit(1)).as("tgt_n")), Seq("b"))
        .crossJoin(broadcast(raw.agg(count(lit(1)).as("r_total"))))
        .crossJoin(broadcast(docs.filter(col("source") === "src1")
          .agg(count(lit(1)).as("t_total"))))
        .persistTracked()
      val accepted = raw.join(broadcast(counts), Seq("b"))
        .filter(
          col("u").cast(DecimalType(38, 0)) * col("raw_n") *
            col("t_total") <
            col("tgt_n").cast(DecimalType(38, 0)) * col("r_total") *
              1000000L)
        .groupBy(col("b")).agg(count(lit(1)).as("acc_n"))
      val per = counts.join(accepted, Seq("b"), "left_outer")
        .withColumn("acc_n", coalesce(col("acc_n"), lit(0L)))
        .crossJoin(broadcast(
          counts.join(accepted, Seq("b"), "left_outer")
            .agg(sum(coalesce(col("acc_n"), lit(0L))).as("a_total"))))
        .withColumn("raw_share", col("raw_n").cast(DoubleType) /
          col("r_total").cast(DoubleType))
        .withColumn("tgt_share", col("tgt_n").cast(DoubleType) /
          col("t_total").cast(DoubleType))
        .withColumn("acc_share", col("acc_n").cast(DoubleType) /
          col("a_total").cast(DoubleType))
        .persistTracked()
      // L1 distances folded in bucket order (q304 discipline)
      val l1 = per.agg(
        expr("aggregate(array_sort(collect_list(struct(b, " +
          "abs(raw_share - tgt_share) AS x))), CAST(0 AS DOUBLE), " +
          "(acc, e) -> acc + e.x)").as("l1_pre"),
        expr("aggregate(array_sort(collect_list(struct(b, " +
          "abs(acc_share - tgt_share) AS x))), CAST(0 AS DOUBLE), " +
          "(acc, e) -> acc + e.x)").as("l1_post"))
      per.crossJoin(broadcast(l1))
        .select(col("b"), col("raw_n"), col("tgt_n"), col("acc_n"),
          col("raw_share"), col("tgt_share"), col("acc_share"),
          col("l1_pre"), col("l1_post"))
        .orderBy(col("b"))
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, source, least(n_chars // 128, 3) AS b,
               (doc_id * 2654435761) % 1000000 AS u
        FROM documents
      ), counts AS (
        SELECT r.b, r.raw_n, t.tgt_n, rt.r_total, tt.t_total
        FROM (SELECT b, count(*) AS raw_n FROM docs
              WHERE source <> 'src1' GROUP BY b) r
        JOIN (SELECT b, count(*) AS tgt_n FROM docs
              WHERE source = 'src1' GROUP BY b) t ON t.b = r.b
        CROSS JOIN (SELECT count(*) AS r_total FROM docs
                    WHERE source <> 'src1') rt
        CROSS JOIN (SELECT count(*) AS t_total FROM docs
                    WHERE source = 'src1') tt
      ), accepted AS (
        SELECT d.b, count(*) AS acc_n
        FROM docs d JOIN counts c ON c.b = d.b
        WHERE d.source <> 'src1'
          AND CAST(d.u AS HUGEINT) * c.raw_n * c.t_total
              < CAST(c.tgt_n AS HUGEINT) * c.r_total * 1000000
        GROUP BY d.b
      ), per AS (
        SELECT c.b, c.raw_n, c.tgt_n, coalesce(a.acc_n, 0) AS acc_n,
               c.r_total, c.t_total,
               CAST(c.raw_n AS DOUBLE) / CAST(c.r_total AS DOUBLE)
                 AS raw_share,
               CAST(c.tgt_n AS DOUBLE) / CAST(c.t_total AS DOUBLE)
                 AS tgt_share
        FROM counts c LEFT JOIN accepted a ON a.b = c.b
      ), tot AS (
        SELECT CAST(sum(acc_n) AS BIGINT) AS a_total FROM per
      ), shares AS (
        SELECT p.b, p.raw_n, p.tgt_n, p.acc_n, p.raw_share, p.tgt_share,
               CAST(p.acc_n AS DOUBLE) / CAST(t.a_total AS DOUBLE)
                 AS acc_share
        FROM per p CROSS JOIN tot t
      ), l1 AS (
        SELECT
          list_reduce(list_transform(
            list(struct_pack(b := b, x := abs(raw_share - tgt_share))
                 ORDER BY b), e -> e.x), (a, x) -> a + x) AS l1_pre,
          list_reduce(list_transform(
            list(struct_pack(b := b, x := abs(acc_share - tgt_share))
                 ORDER BY b), e -> e.x), (a, x) -> a + x) AS l1_post
        FROM shares
      )
      SELECT s.b, s.raw_n, s.tgt_n, s.acc_n, s.raw_share, s.tgt_share,
             s.acc_share, l.l1_pre, l.l1_post
      FROM shares s CROSS JOIN l1 l
      ORDER BY s.b"""))

  /** q437: PII DETECT-AND-REDACT AUDIT (the scrubbing pass of C4 /
    * Dolma / CCNet-class curation: Raffel et al. 2020 §2.2 drop rules;
    * Soldaini et al. 2024 Dolma §4.1's regex email/phone taggers) —
    * the curation shelf's missing disposal face beside q60's funnel
    * and q325's quarantine routing: detect structured PII spans
    * (emails, phone numbers) by regex, REDACT them with typed
    * placeholders, and emit the per-source audit a compliance review
    * actually reads (docs flagged, spans by type, exact char delta).
    * The fixture corpus is word-salad with NO '@' and NO digits
    * (verified), so detection quality is measurable by construction:
    * a deterministic md5-nibble-selected ~25% of docs get one
    * synthetic email + one phone APPENDED (the dose pattern — same
    * injection in both engines), recall on the injected set is
    * exactly 1 and false positives exactly 0, and both show in the
    * audit columns. Patterns are dialect-portable (character classes
    * + bounded quantifiers — identical semantics in Java regex and
    * RE2). Scale: one scan, per-row regex work, rollup is
    * source-dimension-sized; at 100 TB this is the shape of every
    * tagger pass — no shuffle beyond the final dimension-keyed
    * aggregate. */
  val q437 = Q(
    "q437_pii_scrub",
    (s, d) => {
      val emailPat = "[a-z0-9_]+@[a-z]+\\.[a-z]+"
      val phonePat = "[0-9]{3}-[0-9]{4}"
      val dosed = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          when(expr("instr('0123456789abcdef', " +
            "substring(md5(CAST(doc_id AS STRING)), 1, 1)) <= 4"),
            concat(col("text"), lit(" contact user_"),
              col("doc_id").cast(StringType), lit("@example.com"),
              lit(" or call 555-"),
              expr("substring(CAST(10000 + doc_id % 10000 AS STRING)," +
                " 2, 4)")))
            .otherwise(col("text")).as("text"))
      val det = dosed.select(col("source"),
        size(regexp_extract_all(col("text"), lit(emailPat), lit(0)))
          .cast(LongType).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(phonePat), lit(0)))
          .cast(LongType).as("n_phones"),
        length(col("text")).cast(LongType).as("chars_before"),
        length(regexp_replace(
          regexp_replace(col("text"), emailPat, "<EMAIL>"),
          phonePat, "<PHONE>")).cast(LongType).as("chars_after"))
      det.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_emails") + col("n_phones") > 0L, 1L)
            .otherwise(0L)).as("n_flagged"),
          sum(col("n_emails")).as("n_emails"),
          sum(col("n_phones")).as("n_phones"),
          sum(col("chars_before")).as("chars_before"),
          sum(col("chars_after")).as("chars_after"))
        .withColumn("redact_frac",
          (col("chars_before") - col("chars_after")).cast(DoubleType)
            / col("chars_before").cast(DoubleType))
        .orderBy(col("source"))
    },
    Some("""
      WITH dosed AS (
        SELECT doc_id, source,
               CASE WHEN instr('0123456789abcdef',
                      substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) <= 4
                    THEN text || ' contact user_'
                         || CAST(doc_id AS VARCHAR) || '@example.com'
                         || ' or call 555-'
                         || substring(CAST(10000 + doc_id % 10000
                              AS VARCHAR), 2, 4)
                    ELSE text END AS text
        FROM documents
      ), det AS (
        SELECT source,
               CAST(len(regexp_extract_all(text,
                 '[a-z0-9_]+@[a-z]+\.[a-z]+')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text,
                 '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
               CAST(length(text) AS BIGINT) AS chars_before,
               CAST(length(regexp_replace(regexp_replace(text,
                 '[a-z0-9_]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
                 '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS BIGINT)
                 AS chars_after
        FROM dosed
      )
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0
               END) AS BIGINT) AS n_flagged,
             CAST(sum(n_emails) AS BIGINT) AS n_emails,
             CAST(sum(n_phones) AS BIGINT) AS n_phones,
             CAST(sum(chars_before) AS BIGINT) AS chars_before,
             CAST(sum(chars_after) AS BIGINT) AS chars_after,
             CAST(sum(chars_before) - sum(chars_after) AS DOUBLE)
               / CAST(sum(chars_before) AS DOUBLE) AS redact_frac
      FROM det GROUP BY source ORDER BY source"""))

  val all: Seq[Q] =
    Seq(q60, q71, q96, q99, q107, q153, q156, q182, q203, q210, q245,
      q247, q263, q290, q293, q298, q310, q312, q315, q323, q324,
      q329, q330, q331, q334, q343, q357, q359, q360, q365, q372, q386,
      q392, q437)
}
