package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** c01 — the END-TO-END CURATION CAMPAIGN: every decision op this
  * engine ships, composed under ONE plan into the artifact a training
  * run actually consumes — the full pipeline a 100 TB campaign runs
  * nightly, certified end to end by a single oracle that replays the
  * whole decision chain (reference workload: the curation stage a
  * stream-fed corpus store runs between ingest and training —
  * cf. `/root/reference/app/spark_entity_counter.py:117-156`, whose
  * pipeline stops at entity aggregation; this is the downstream
  * curation the same corpus needs before training).
  *
  * The chain (each stage is an already-certified op, reused verbatim —
  * a decision here can never diverge from its standalone query):
  *
  *  1. QUALITY GATE — t51's Gopher repetition bars ([[TextOps.gopherRules]]):
  *     a doc failing any dup-gram fraction bar drops at stage
  *     `quality`.
  *  2. DEDUP — d27's quality-aware canonical selection
  *     ([[Dedup.canonicalSelection]]): non-canonical members of
  *     near-dup clusters drop at stage `dedup`.
  *  3. DECONTAMINATION — t41's multi-suite probe
  *     ([[TextOps.multiSuiteContamination]]): eval-suite members and
  *     any doc sharing a 4-gram fingerprint with either suite drop at
  *     stage `decontam` (eval data must never train).
  *  4. SPAN CUTS — d35's exact-substring surgery
  *     ([[Dedup.spanDedupApply]]): survivors keep their text minus
  *     cross-doc-repeated 20-gram spans; a doc cut to nothing drops
  *     at stage `span_emptied`.
  *  5. SHIP — the kept docs' CLEANED text lands as source-partitioned
  *     parquet (the d31 write convention) next to the decision LEDGER
  *     (source, doc_id, stage, span_tokens_removed) — the audit trail
  *     a campaign files with the artifact.
  *  6. PLAN — t27's mixture math (ppm targets → binding source →
  *     per-source keep_tokens) and t21's sequence packing (shard-local
  *     greedy concat-then-cut, |sequences| per source) run over the
  *     WRITTEN artifact — the read-back discipline: the report's kept
  *     columns are recomputed from the shipped bytes, so a hash match
  *     certifies the write path, not just the plan.
  *
  * Stage attribution is FIRST-FAILING-GATE (quality → dedup →
  * decontam → span_emptied), so the funnel is a partition:
  * n_docs_raw = Σ stage counts + n_kept per source (CampaignSpec's
  * conservation invariant).
  *
  * Scale shape: every stage keeps its audited plan (no new corpus
  * pass is introduced by composition — the decision tables join the
  * narrow (source, doc_id, text) scan on doc_id, shuffle equi-joins
  * throughout; the d30 rule applies — NO broadcast hints on the
  * corpus-scale decision sets, AQE decides). The only cross join is
  * the one-row t_budget broadcast (the t27 class, whitelisted). The
  * packing window partitions by (source, shard) — shard-bounded,
  * never a global sort.
  */
object Curation {

  /** The per-doc decision frame: (source, doc_id, stage,
    * span_tokens_removed, text_final). The seam CampaignSpec uses to
    * pin composed decisions against the stage-by-stage sets.
    */
  private[graft] def stagedDecisions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, dir).select($"source", $"doc_id", $"text")
    val quality = TextOps.gopherRules(s, dir).select($"doc_id", $"gopher_ok")
    val dedupDrop = Dedup.canonicalSelection(s, dir)
      .filter(!$"kept").select($"doc_id").withColumn("dedup_dropped", lit(true))
    val dirty = TextOps.multiSuiteContamination(s, dir)
      .select($"doc_id").withColumn("contaminated", lit(true))
    val spans = Dedup.spanDedupApply(s, dir)
      .select($"doc_id", $"n_removed", $"text_clean")
    docs
      .join(quality, Seq("doc_id"))
      .join(dedupDrop, Seq("doc_id"), "left")
      .join(dirty, Seq("doc_id"), "left")
      .join(spans, Seq("doc_id"), "left")
      .withColumn("text_final", coalesce($"text_clean", $"text"))
      .withColumn("stage",
        when(!$"gopher_ok", "quality")
          .when($"dedup_dropped", "dedup")
          .when(TextOps.suiteMember($"doc_id") || $"contaminated", "decontam")
          .when($"text_final" === "", "span_emptied")
          .otherwise("kept"))
      .select($"source", $"doc_id", $"stage",
        coalesce($"n_removed", lit(0L)).as("span_tokens_removed"),
        $"text_final")
  }

  /** Deterministic per-corpus artifact root (the d31 curatedOutDir
    * convention) — session-independent so verify and bench reuse it.
    */
  private def campaignOutDir(dir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"${sys.props("java.io.tmpdir")}/graft_campaign_$h"
  }

  /** Run the decision chain once and ship both artifacts: the curated
    * corpus (source-partitioned, cleaned text) and the decision
    * ledger. The one checkpoint makes the chain compute ONCE for both
    * writes — at campaign scale the ledger write IS the
    * materialization (write ledger+text to a staging table, then the
    * two projections read it), which the local checkpoint stands in
    * for.
    */
  def writeCampaign(s: SparkSession, dir: String, outDir: String): Unit = {
    import s.implicits._
    val staged = stagedDecisions(s, dir).localCheckpoint()
    staged.filter($"stage" === "kept")
      .select($"doc_id", $"text_final".as("text"), $"source")
      .write.mode("overwrite").partitionBy("source").parquet(s"$outDir/corpus")
    staged.select($"source", $"doc_id", $"stage", $"span_tokens_removed")
      .write.mode("overwrite").parquet(s"$outDir/ledger")
  }

  /** The campaign report: per source the funnel (raw count, per-stage
    * drops, kept), read-back kept stats, the mixture plan, and the
    * packing yield — one row per surviving source. See object doc.
    */
  def curationCampaign(s: SparkSession, dir: String, budget: Int = 256): DataFrame = {
    import s.implicits._
    val out = campaignOutDir(dir)
    // one write per (session, dir): the memoized one-row frame's eager
    // checkpoint runs the write exactly once; repeats reuse the
    // artifact (the d31/t43 artifact-read discipline).
    CorpusIndexes.memo(s, dir, "campaign_write") {
      writeCampaign(s, dir, out)
      s.range(1).toDF("done")
    }
    val ledger = parquet(s, s"$out/ledger")
    val art = parquet(s, s"$out/corpus")
    val funnel = ledger.groupBy($"source").agg(
      count(lit(1)).as("n_docs_raw"),
      sum(when($"stage" === "quality", 1L).otherwise(0L)).as("n_quality_drop"),
      sum(when($"stage" === "dedup", 1L).otherwise(0L)).as("n_dedup_drop"),
      sum(when($"stage" === "decontam", 1L).otherwise(0L)).as("n_decontam_drop"),
      sum(when($"stage" === "span_emptied", 1L).otherwise(0L)).as("n_span_emptied"),
      sum(when($"stage" === "kept", $"span_tokens_removed").otherwise(0L))
        .as("span_tokens_cut"))
    // Kept stats recomputed FROM THE ARTIFACT (tokens recounted from
    // the shipped text, not carried through the plan).
    val kept = art.select($"source", $"doc_id",
      size(split($"text", "\\s+")).cast("long").as("n_tokens"))
    val keptStats = kept.groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), sum($"n_tokens").as("tokens_kept"))
      .withColumn("ppm", lit(200000L) + lit(100000L) *
        (regexp_extract($"source", "(\\d+)", 1).cast("long") % 5L))
      .withColumn("max_t", expr("tokens_kept * 1000000 div ppm"))
    val tBudget = keptStats.agg(min($"max_t").as("t_budget"))
    val mixture = keptStats.crossJoin(broadcast(tBudget))
      .select($"source", $"n_kept", $"tokens_kept", $"ppm",
        expr("ppm * t_budget div 1000000").as("keep_tokens"),
        ($"max_t" === $"t_budget").as("is_binding"))
    val shard = expr(
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 8")
    val w = Window.partitionBy($"source", $"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val packs = kept.withColumn("shard", shard)
      .withColumn("cum_before", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .withColumn("seq_id", expr(s"cum_before div $budget"))
      .groupBy($"source", $"shard", $"seq_id").agg(count(lit(1)).as("nd"))
      .groupBy($"source").agg(count(lit(1)).as("n_seqs"))
    funnel.join(mixture, Seq("source"))
      .join(packs, Seq("source"))
      .select($"source", $"n_docs_raw", $"n_quality_drop", $"n_dedup_drop",
        $"n_decontam_drop", $"n_span_emptied", $"n_kept", $"tokens_kept",
        $"span_tokens_cut", $"ppm", $"keep_tokens", $"is_binding", $"n_seqs")
      .orderBy($"source")
  }

  /** The composed INGEST-TIME campaign verdict for one batch of
    * (doc_id, text) arrivals against the frozen snapshot structures —
    * c01's first-failing-gate discipline applied at the door, chaining
    * every ingest gate the streaming family ships solo: the admission
    * cascade (t02 quality bar, the d15 three-signal dedup probe
    * against the historical index, benchmark decontamination — the
    * StreamingAdmission core), then the two frozen-model gates (t54's
    * JM perplexity against the campaign-shipped threshold — the
    * StreamingJm core; t49's DSIR selection — the StreamingDsir core).
    *
    * Stage attribution is FIRST-FAILING-GATE in c01's order
    * (quality → dedup → decontam → lm_quality → dsir → kept), so the
    * stages partition the arrivals (the funnel conservation
    * invariant). A sub-bigram document carries no LM evidence — the
    * two model gates cannot fire on it (their scores are null and a
    * null predicate falls through), the deterministic analog of t54's
    * omit-the-doc contract.
    *
    * Every verdict depends only on its own document versus the frozen
    * sidecars, so per-batch verdicts COMPOSE: the union over any
    * batch partitioning equals this one-shot batch chain bit for bit,
    * and both equal the solo doors' outputs composed by the same
    * precedence (StreamingExtrasSpec pins all three, through a forced
    * replay).
    *
    * Scale shape: each gate keeps its audited solo plan — batch-vs-
    * bucketed-index equi-joins for the dedup signals, the broadcast
    * gram set, vocabulary-sized model broadcasts; the compose step is
    * three left equi-joins on doc_id at BATCH cardinality. Nothing
    * touches the corpus beyond the frozen sidecars.
    */
  def campaignProbeBatch(batch: DataFrame, idx: Dedup.TextProbeIndex,
                         benchGrams: DataFrame,
                         runi: DataFrame, rbg: DataFrame, ctx: DataFrame,
                         jmBarCell: Long,
                         dsirModel: DataFrame): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val adm = Dedup.admissionProbeIndexed(batch, idx, benchGrams)
    val jm = TextOps.jmScoreAgainst(
        batch.select($"doc_id", TextOps.toks($"text").as("t")),
        runi, rbg, ctx)
      .select($"doc_id", $"avg_nll")
    val ds = TextOps.dsirScoreBatch(batch, dsirModel)
      .select($"doc_id", $"logw", $"selected")
    // The QUANTIZED-CELL compare (t54's registered keep rule) — a raw
    // double threshold would diverge from the certified rule for a
    // novel arrival scoring between the snapshot's largest kept
    // double and the cell boundary.
    stagedVerdict(adm.join(jm, Seq("doc_id"), "left")
      .join(ds, Seq("doc_id"), "left"),
      lmDrop = floor($"avg_nll" * lit(1e4)) > lit(jmBarCell))
  }

  /** The first-failing-gate composition shared by [[campaignProbeBatch]]
    * and [[ingestCampaign]] — ONE restatement of the stage precedence
    * (quality → dedup → decontam → lm_quality → dsir → kept) and the
    * 10-column verdict contract, so a future gate insertion cannot
    * silently change one composition's funnel attribution. `in` bears
    * the admission flags plus (avg_nll, logw, selected); `lmDrop` is
    * the caller's form of the quantized-bar compare (literal for the
    * door, column for the registered query).
    */
  private def stagedVerdict(in: DataFrame,
                            lmDrop: org.apache.spark.sql.Column): DataFrame = {
    val s = in.sparkSession
    import s.implicits._
    in.withColumn("stage",
        when($"low_quality", "quality")
          .when($"exact_dup" || $"near_dup" || $"sim_dup", "dedup")
          .when($"contaminated", "decontam")
          .when(lmDrop, "lm_quality")
          .when(!coalesce($"selected", lit(true)), "dsir")
          .otherwise("kept"))
      .select($"doc_id", $"exact_dup", $"near_dup", $"sim_dup",
        $"low_quality", $"contaminated", $"avg_nll", $"logw",
        $"stage", ($"stage" === "kept").as("admit"))
  }

  /** c02 — the INGEST-TIME campaign as a registered, oracle-checked
    * query: [[campaignProbeBatch]]'s composed decision chain run as
    * ONE batch over the d14 arrival convention (doc_id % 5 = 0
    * arrivals vs the % 5 ≠ 0 historical index) — the batch twin the
    * StreamingCampaign door composes to, with the whole five-gate
    * chain certified by a single DuckDB replay (c01 certifies the
    * SNAPSHOT-time chain — cross-document dedup, span surgery,
    * mixture; this certifies the DOOR-time chain — per-arrival gates
    * against frozen structures).
    *
    * The JM bar is the SNAPSHOT's t54 threshold computed by the same
    * [[TextOps.jmScoredWithBar]] frames t54 registers (the campaign
    * ships that bar frozen; the arrival gate compares the arrival's
    * quantized score against it, exactly the t54 keep rule), so the
    * gate can never diverge from the standalone query.
    *
    * Scale shape: every gate keeps its audited solo plan; the full
    * corpus is scanned once for the JM scores (the bar needs the
    * snapshot distribution — at 100 TB that's the persisted t54
    * artifact, not a recompute), the arrival-side probes are
    * batch-vs-bucketed-index equi-joins, and the compose step is
    * left equi-joins on doc_id at arrival cardinality plus the
    * one-row bar broadcast (whitelisted).
    */
  def ingestCampaign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val arrivals = documents(s, dir).select($"doc_id", $"text")
      .filter($"doc_id" % 5 === 0)
    val adm = Dedup.admissionProbeIndexed(arrivals,
      Dedup.textProbeSidecar(s, dir, 64), CorpusIndexes.benchGrams(s, dir))
    val (jmScoredAll, jmBar) = TextOps.jmScoredWithBar(s, dir)
    val ds = TextOps.dsirScoreBatch(arrivals, TextOps.dsirModel(s, dir))
    stagedVerdict(adm
      .join(jmScoredAll.select($"doc_id", $"avg_nll", $"q_nll"),
        Seq("doc_id"), "left")
      .crossJoin(broadcast(jmBar))
      .join(ds.select($"doc_id", $"logw", $"selected"), Seq("doc_id"), "left"),
      lmDrop = $"q_nll" > $"bar_cell")
      .orderBy($"doc_id")
  }

  /** Ship the composed door's WHOLE frozen snapshot under `root` —
    * the dedup probe index over `histDocs`, the bench-gram
    * decontamination set, the JM model AND its campaign bar CELL in
    * one model build (the sidecar write and the bar's scoring pass
    * share the checkpointed model frames — no redundant reference
    * pass), the DSIR model, and the config table carrying the bar.
    * After this, [[graft.streaming.StreamingCampaign.runFromSnapshot]]
    * needs the root ALONE — the production snapshot-rotation shape:
    * build once per snapshot, point every door session at the root.
    */
  def persistCampaignSnapshot(s: SparkSession, dir: String,
                              histDocs: DataFrame, root: String): Unit = {
    import s.implicits._
    Dedup.persistTextProbeIndex(histDocs, root)
    CorpusIndexes.persistSidecars(s, dir, root, Seq("bench_grams"))
    val barCell = TextOps.persistJmModelWithBar(s, dir, root)
    TextOps.persistDsirModel(s, dir, root)
    Seq(barCell).toDF("jm_bar_cell")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/campaign_config")
  }

  /** Read the frozen bar cell [[persistCampaignSnapshot]] shipped. */
  def loadCampaignBarCell(s: SparkSession, root: String): Long =
    s.read.parquet(s"$root/campaign_config").head().getLong(0)

  /** The DuckDB replay of [[ingestCampaign]]: the SHARED admission
    * chain (Dedup.admissionReplaySql), the SHARED JM score+bar chain
    * (TextOps.jmScoreReplaySql), and the SHARED DSIR chain
    * (TextOps.dsirReplaySql), composed by the identical
    * first-failing-gate CASE — a hash match certifies the whole
    * five-gate door-time decision chain, and because every chain is
    * the same val its solo oracle uses, the composed replay can never
    * drift from the solo replays.
    */
  private[graft] val ingestOracle: String = ("""
    WITH """ + Dedup.admissionReplaySql + """,
        """ + TextOps.jmScoreReplaySql + """,
        """ + TextOps.dsirReplaySql + """,
        xsel AS (SELECT doc_id,
            feat_term + CAST(n_grams AS DOUBLE) *
              (ln(CAST(xtots.n_raw + 64 AS DOUBLE)) -
               ln(CAST(xtots.n_tgt + 64 AS DOUBLE))) AS logw
          FROM xf CROSS JOIN xtots),
        cbase AS (SELECT q.doc_id,
            (m.exact_match IS NOT NULL) AS exact_dup,
            (m.near_match IS NOT NULL) AS near_dup,
            (m.sim_match IS NOT NULL) AS sim_dup,
            (q.quality < 0.8) AS low_quality,
            (dt.doc_id IS NOT NULL) AS contaminated,
            j.avg_nll,
            x.logw,
            CASE WHEN q.quality < 0.8 THEN 'quality'
                 WHEN m.exact_match IS NOT NULL OR m.near_match IS NOT NULL
                   OR m.sim_match IS NOT NULL THEN 'dedup'
                 WHEN dt.doc_id IS NOT NULL THEN 'decontam'
                 WHEN j.q_nll > md.bar_cell THEN 'lm_quality'
                 WHEN NOT COALESCE(x.logw > 0.0, true) THEN 'dsir'
                 ELSE 'kept' END AS stage
          FROM q
          LEFT JOIN merged m ON m.doc_id = q.doc_id
          LEFT JOIN dirty dt ON dt.doc_id = q.doc_id
          LEFT JOIN qd j ON j.doc_id = q.doc_id
          LEFT JOIN xsel x ON x.doc_id = q.doc_id
          CROSS JOIN md)
    SELECT doc_id, exact_dup, near_dup, sim_dup, low_quality,
      contaminated, avg_nll, logw, stage, (stage = 'kept') AS admit
    FROM cbase ORDER BY doc_id""")

  /** The DuckDB replay of the WHOLE campaign: the d31 decision CTEs
    * (MinHash → capped LSH → recursive CC → quality argmax), the t51
    * Gopher-bar chain, the t41 multi-suite fingerprint probe, the d35
    * span surgery, composed by the same first-failing-gate CASE, then
    * the funnel, the kept-text token recount, t27's mixture math, and
    * t21's packing — all over the ORIGINAL `documents` table, so a
    * hash match certifies that exactly the replayed decision chain's
    * survivors (with exactly the replayed bytes) landed in the shipped
    * artifact. Multi-referenced CTEs are MATERIALIZED (DuckDB inlines
    * otherwise — effectively exponential over a chain this deep).
    */
  private[graft] val campaignOracle: String = """
    WITH RECURSIVE
    """ + Dedup.ccLabelReplaySql + """,
    cq AS (SELECT doc_id,
            0.4 * (1.0 - CAST(len(list_filter(t, c -> c = 'a' OR c = 'the')) AS DOUBLE) / len(t))
              + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
              + 0.3 * least(len(t) / 50.0, 1.0) AS quality
          FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
                FROM documents) x),
    dec AS MATERIALIZED (SELECT j.doc_id,
            j.doc_id = first_value(j.doc_id) OVER (PARTITION BY j.cluster_id
              ORDER BY j.quality DESC, j.doc_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS kept
          FROM (SELECT lab.doc_id, lab.cluster_id, cq.quality
                FROM lab JOIN cq ON lab.doc_id = cq.doc_id) j),
    garr AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS a FROM documents),
    gtok AS MATERIALIZED (SELECT doc_id, pos, a[pos] AS tok
            FROM garr, LATERAL (SELECT unnest(generate_series(1, len(a))) AS pos) p),
    gtot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(length(tok)) + count(*) - 1 AS BIGINT) AS total_chars
            FROM gtok GROUP BY doc_id),
    gled AS (SELECT doc_id, tok,
              lead(tok, 1) OVER w AS t1, lead(tok, 2) OVER w AS t2,
              lead(tok, 3) OVER w AS t3
            FROM gtok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    ggrams AS (
      SELECT doc_id, 2 AS n, tok || ' ' || t1 AS g FROM gled WHERE t1 IS NOT NULL
      UNION ALL
      SELECT doc_id, 3, tok || ' ' || t1 || ' ' || t2 FROM gled WHERE t2 IS NOT NULL
      UNION ALL
      SELECT doc_id, 4, tok || ' ' || t1 || ' ' || t2 || ' ' || t3 FROM gled
      WHERE t3 IS NOT NULL),
    ggc AS (SELECT doc_id, n, g, count(*) AS c FROM ggrams GROUP BY doc_id, n, g),
    gdup AS (SELECT doc_id,
              coalesce(sum(CASE WHEN n = 2 AND c >= 2 THEN c * length(g) END), 0) AS d2,
              coalesce(sum(CASE WHEN n = 3 AND c >= 2 THEN c * length(g) END), 0) AS d3,
              coalesce(sum(CASE WHEN n = 4 AND c >= 2 THEN c * length(g) END), 0) AS d4
            FROM ggc GROUP BY doc_id),
    gok AS MATERIALIZED (SELECT t.doc_id,
            (coalesce(d.d2, 0) * 5 <= t.total_chars
             AND coalesce(d.d3, 0) * 50 <= t.total_chars * 9
             AND coalesce(d.d4, 0) * 25 <= t.total_chars * 4) AS gopher_ok
          FROM gtot t LEFT JOIN gdup d ON t.doc_id = d.doc_id),
    ctk AS MATERIALIZED (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks,
            list_transform(regexp_split_to_array(text, '\s+'),
              t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
          FROM documents),
    cgrams AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(
                generate_series(1, len(th) - 3), i -> ((((((th[i]) * 31 + th[i+1]) % 2147483647) * 31 + th[i+2]) % 2147483647) * 31 + th[i+3]) % 2147483647)) AS gs
              FROM ctk WHERE len(th) >= 4),
    bgu AS (SELECT DISTINCT unnest(gs) AS g FROM cgrams WHERE doc_id % 97 = 0
            UNION SELECT DISTINCT unnest(gs) AS g FROM cgrams WHERE doc_id % 89 = 0),
    dirty AS MATERIALIZED (SELECT DISTINCT doc_id
            FROM (SELECT doc_id, unnest(gs) AS g FROM cgrams
                  WHERE doc_id % 97 <> 0 AND doc_id % 89 <> 0) cand
            JOIN bgu USING (g)),
    sgrams AS MATERIALIZED (SELECT doc_id, unnest(list_transform(generate_series(1, len(th) - 19),
                i -> struct_pack(pos := CAST(i - 1 AS BIGINT),
                  g := list_reduce(th[i:i+19],
                         (acc, x) -> (acc * 31 + x) % 2147483647))),
                recursive := true)
              FROM ctk WHERE len(th) >= 20),
    spg AS (SELECT g, doc_id FROM sgrams GROUP BY g, doc_id),
    srep AS (SELECT g, min(doc_id) AS canon_doc FROM spg
            GROUP BY g HAVING count(*) >= 2),
    scut AS MATERIALIZED (SELECT sgrams.doc_id, sgrams.pos FROM sgrams JOIN srep USING (g)
            WHERE sgrams.doc_id <> srep.canon_doc),
    sisl AS (SELECT doc_id, pos,
              pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
            FROM scut),
    siv AS (SELECT doc_id, min(pos) AS a, max(pos) + 19 AS b
           FROM sisl GROUP BY doc_id, grp),
    scov AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(range(a, b + 1)) AS pos FROM siv),
    stok AS (SELECT doc_id, unnest(toks) AS tok,
              unnest(range(0, len(toks))) AS pos FROM ctk
            WHERE doc_id IN (SELECT DISTINCT doc_id FROM scut)),
    cleaned AS MATERIALIZED (SELECT t.doc_id,
        CAST(count(c.pos) AS BIGINT) AS n_removed,
        coalesce(string_agg(t.tok, ' ' ORDER BY t.pos)
          FILTER (WHERE c.pos IS NULL), '') AS text_clean
      FROM stok t LEFT JOIN scov c ON t.doc_id = c.doc_id AND t.pos = c.pos
      GROUP BY t.doc_id),
    staged AS MATERIALIZED (SELECT d.source, d.doc_id,
        CASE WHEN NOT g.gopher_ok THEN 'quality'
             WHEN dec.kept = false THEN 'dedup'
             WHEN d.doc_id % 97 = 0 OR d.doc_id % 89 = 0
               OR dt.doc_id IS NOT NULL THEN 'decontam'
             WHEN coalesce(cl.text_clean, d.text) = '' THEN 'span_emptied'
             ELSE 'kept' END AS stage,
        coalesce(cl.n_removed, 0) AS span_removed,
        coalesce(cl.text_clean, d.text) AS text_final
      FROM documents d
      JOIN gok g ON d.doc_id = g.doc_id
      LEFT JOIN dec ON d.doc_id = dec.doc_id
      LEFT JOIN dirty dt ON d.doc_id = dt.doc_id
      LEFT JOIN cleaned cl ON d.doc_id = cl.doc_id),
    funnel AS (SELECT source,
        CAST(count(*) AS BIGINT) AS n_docs_raw,
        CAST(sum(CASE WHEN stage = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_drop,
        CAST(sum(CASE WHEN stage = 'dedup' THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup_drop,
        CAST(sum(CASE WHEN stage = 'decontam' THEN 1 ELSE 0 END) AS BIGINT) AS n_decontam_drop,
        CAST(sum(CASE WHEN stage = 'span_emptied' THEN 1 ELSE 0 END) AS BIGINT) AS n_span_emptied,
        CAST(sum(CASE WHEN stage = 'kept' THEN span_removed ELSE 0 END) AS BIGINT) AS span_tokens_cut
      FROM staged GROUP BY source),
    kept AS MATERIALIZED (SELECT source, doc_id,
        CAST(len(regexp_split_to_array(text_final, '\s+')) AS BIGINT) AS n_tokens
      FROM staged WHERE stage = 'kept'),
    ks AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
            CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
          FROM kept GROUP BY source),
    mw AS (SELECT source, n_kept, tokens_kept,
            200000 + 100000 * (CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 5) AS ppm
          FROM ks),
    mt AS (SELECT source, n_kept, tokens_kept, ppm,
            tokens_kept * 1000000 // ppm AS max_t
          FROM mw),
    bb AS (SELECT min(max_t) AS t_budget FROM mt),
    packs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_seqs FROM (
        SELECT source, shard, cum_before // 256 AS seq_id FROM (
          SELECT source, shard,
            COALESCE(sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
          FROM (SELECT source, doc_id,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard,
                  n_tokens
                FROM kept) s1) s2
        GROUP BY source, shard, seq_id) s3
      GROUP BY source)
    SELECT f.source, f.n_docs_raw, f.n_quality_drop, f.n_dedup_drop,
      f.n_decontam_drop, f.n_span_emptied, m.n_kept, m.tokens_kept,
      f.span_tokens_cut, CAST(m.ppm AS BIGINT) AS ppm,
      CAST(m.ppm * b.t_budget // 1000000 AS BIGINT) AS keep_tokens,
      m.max_t = b.t_budget AS is_binding,
      p.n_seqs
    FROM funnel f JOIN mt m USING (source) JOIN packs p USING (source)
      CROSS JOIN bb b
    ORDER BY f.source"""
}
