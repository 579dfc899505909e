package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond the dedup/similarity family:
  * chunking, deterministic sampling, PII scrubbing, repetition filtering.
  * All are single-scan, shuffle-free per-row transforms (chunking explodes
  * ~n_tokens/stride rows per doc) — embarrassingly parallel at 100 TB, and
  * every output is integer/string so the driver hash-compare is exact.
  */
object Pipeline extends QueryModule {

  import org.apache.spark.sql.{Column, DataFrame}

  /** Overlapping token-window chunks of `textCol`: (idCol, chunk_id, n_tok,
    * chunk_tok, chunk). Chunk starts at 1, 1+stride, ... ≤ max(n-window+1, 1)
    * so every token is covered and short docs yield one ragged chunk. */
  def chunkOverlap(docs: DataFrame, idCol: String, textCol: String,
                   window: Int = 20, stride: Int = 10): DataFrame = {
    docs.select(col(idCol), split(col(textCol), " ").as("t"))
      .select(col(idCol), size(col("t")).as("n_tok"),
        posexplode(expr(
          s"transform(sequence(1, greatest(size(t) - ${window - 1}, 1), $stride), " +
          s"p -> concat_ws(' ', slice(t, p, $window)))"))
          .as(Seq("chunk_id", "chunk")))
      .select(col(idCol), col("chunk_id"), col("n_tok"),
        size(split(col("chunk"), " ")).as("chunk_tok"), col("chunk"))
  }

  /** Deterministic keep-filter: md5-bucket `keyCol` into 100 buckets, keep
    * bucket < keepPct. No rand() — reproducible across runs and engines. */
  def sampleByHash(df: DataFrame, keyCol: String, keepPct: Int): DataFrame =
    df.filter(
      conv(substring(md5(col(keyCol).cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("long") % 100 < keepPct)

  /** Redact emails then 3+-digit runs with placeholder tokens. */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
      "[0-9]{3,}", "<NUM>")

  /** Distinct-token ratio of a whitespace-tokenized text column as an exact
    * ×1e4 BIGINT. Truncating integer division built as (a - a mod b) / b:
    * Column./ is double division, but an exactly-divisible quotient this
    * small is exact in double, so the result matches SQL `div`. */
  def uniqRatioE4(textCol: Column): Column = {
    val t = split(textCol, " ")
    val a = size(array_distinct(t)).cast("long") * 10000
    val b = size(t).cast("long")
    ((a - pmod(a, b)) / b).cast("long")
  }

  val queries: Map[String, Q] = Map(
    // Overlapping token-window chunking (context-window preparation):
    // 20-token windows, stride 10. Chunk starts are 1, 11, 21, ... up to
    // greatest(n-19, 1) so every token lands in ≥1 chunk and a short doc
    // still yields its single (possibly ragged) chunk. Zero shuffles —
    // generator + projection inside whole-stage codegen.
    "pipe_chunk_overlap" -> ((s, d) =>
      chunkOverlap(Tables.documents(s, d), "doc_id", "text", 20, 10)
        .orderBy("doc_id", "chunk_id")),

    // Deterministic stratified corpus sampling: md5-bucket each doc_id into
    // 100 buckets, keep bucket < 20 (a reproducible 20% sample — no rand(),
    // so re-runs and both engines agree row-for-row). Per-language counts
    // prove the strata survive.
    "pipe_sample_stratified" -> ((s, d) => {
      import s.implicits._
      sampleByHash(Tables.documents(s, d), "doc_id", 20)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_sampled"), sum($"doc_id").as("id_checksum"))
        .orderBy("lang")
    }),

    // PII scrubbing: emails then 3+-digit runs → placeholder tokens, with
    // per-doc redaction counts. The synthetic corpus has no natural PII, so
    // a deterministic contact line (derived from doc_id) is appended first —
    // the patterns and replacement order are the operator under test.
    "pipe_pii_scrub" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter($"doc_id" < 200)
        .withColumn("raw", concat($"text",
          lit(" contact user"), $"doc_id", lit("@example.com ref "), $"doc_id" * 7919))
        .select($"doc_id",
          size(expr("regexp_extract_all(raw, '[a-z0-9.]+@[a-z0-9.]+', 0)")).as("n_email"),
          size(expr("regexp_extract_all(regexp_replace(raw, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>'), '[0-9]{3,}', 0)")).as("n_num"),
          scrubPii($"raw").as("scrubbed"))
        .orderBy("doc_id")
    }),

    // Repetition filter: docs whose distinct-token ratio falls below 30%
    // are dropped (boilerplate/spam heuristic). Ratio as exact ×1e4
    // integer, truncating division on both engines.
    "pipe_repetition_filter" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", $"lang", split($"text", " ").as("t"),
          uniqRatioE4($"text").as("uniq_ratio_e4"))
        .select($"doc_id", $"lang",
          size($"t").as("n_tok"),
          size(array_distinct($"t")).as("n_uniq"),
          $"uniq_ratio_e4")
        .filter($"uniq_ratio_e4" >= 3000)
        .orderBy("doc_id")
    }),

    // HYBRID RETRIEVAL — reciprocal-rank fusion (Cormack & Clarke,
    // SIGIR 2009; the standard RRF k=60) of the two ranked arms this
    // engine already grades: the integer-BM25 lexical top-20 (the
    // text_bm25_topk formula) and the embedding-cosine vector top-20
    // (the sim_cosine_topk formula, ranked on the ROUNDED e6 score so
    // rank order is integer-deterministic cross-engine). Fused score is
    // Σ 1000000 div (60 + rank) over the arms a doc appears in —
    // truncating integer division, exact in both engines; absent-arm
    // ranks surface as 0 (never NULL: a NULL BIGINT column round-trips
    // through pandas as float64 and would break the driver's dtype-exact
    // compare). Scale shape: each arm ends in a TakeOrdered top-20 —
    // parallel partial top-k, no global sort — and the rank row_number
    // windows run over those 20-row results only; the fusion join is
    // 20×20. The doc_id↔vec_id identity is the corpus contract (one
    // embedding per document).
    "pipe_hybrid_retrieval" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // Lexical arm: integer BM25 over the doc_id < 300 universe.
      val docs = Tables.documents(s, d).filter($"doc_id" < 300)
        .select($"doc_id", split($"text", " ").as("t"))
      val stats = docs.select($"doc_id", size($"t").cast("long").as("dl"))
      val glob = stats.agg(count(lit(1)).as("n_docs"), sum($"dl").as("tot"))
        .select($"n_docs", expr("tot div n_docs").as("avg_tok"))
      val tf = docs.select($"doc_id", explode($"t").as("tok"))
        .filter($"tok".isin("hash", "merge", "scan"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      val bm = tf.join(broadcast(dfc), "tok")
        .join(stats, "doc_id")
        .crossJoin(broadcast(glob))
        .withColumn("k_e3", expr("2 * (250 + (750 * dl) div avg_tok)"))
        .withColumn("tfp_e3", expr("(tf * 3 * 1000000) div (tf * 1000 + k_e3)"))
        .withColumn("idf_e3", expr("((n_docs - df + 1) * 1000) div (df + 1)"))
        .groupBy($"doc_id").agg(sum($"tfp_e3" * $"idf_e3").as("score_e6"))
        .orderBy($"score_e6".desc, $"doc_id".asc).limit(20)
      val lex = bm.withColumn("lex_rank",
          row_number().over(Window.orderBy($"score_e6".desc, $"doc_id".asc))
            .cast("long"))
        .select($"doc_id", $"lex_rank")
      // Vector arm: exact cosine vs the vec_id=0 query, same universe.
      val e = Tables.embeddings(s, d).filter($"vec_id" < 300)
      val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
      val cos = e.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
        .select($"vec_id".as("doc_id"),
          round(graft.functions.AnnSearch.cosine($"embedding", $"qv")
            * 1000000).cast("long").as("cos_e6"))
        .orderBy($"cos_e6".desc, $"doc_id".asc).limit(20)
      val vec = cos.withColumn("vec_rank",
          row_number().over(Window.orderBy($"cos_e6".desc, $"doc_id".asc))
            .cast("long"))
        .select($"doc_id", $"vec_rank")
      lex.join(vec, Seq("doc_id"), "full_outer")
        .select($"doc_id",
          coalesce($"lex_rank", lit(0L)).as("lex_rank"),
          coalesce($"vec_rank", lit(0L)).as("vec_rank"),
          (coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L)) +
           coalesce(expr("1000000 div (60 + vec_rank)"), lit(0L)))
            .as("rrf_e6"))
        .orderBy($"rrf_e6".desc, $"doc_id".asc)
        .limit(10)
    }),

    // Context-window packing: assign documents to fixed token-budget bins
    // (2048 tokens) per language by cumulative fill in doc_id order — the
    // deterministic first-fit packing that precedes sequence building.
    // One window cumsum per lang partition; at 100 TB the lang (or shard)
    // key bounds the sort, so packing runs per-partition, never globally.
    "pipe_context_pack" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val before = Window.partitionBy($"lang").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select($"doc_id", $"lang",
          size(split($"text", " ")).cast("long").as("n_tok"))
        .withColumn("tok_before", coalesce(sum($"n_tok").over(before), lit(0L)))
        .select($"doc_id", $"lang", $"n_tok",
          expr("tok_before div 2048").as("bin_id"),
          expr("tok_before - (tok_before div 2048) * 2048").as("bin_offset"))
        .orderBy("doc_id")
    }),

    // Train/eval decontamination: flag training documents sharing >= 2
    // distinct DISCRIMINATIVE 3-gram shingles with any held-out eval
    // document (doc_id divisible by 50 plays the eval set here). Candidate
    // generation is a shingle equi-join — the same LSH-style structure as
    // the dedup family, never an all-pairs scan. Shingles appearing in
    // more than 256 documents are dropped first (the standard stop-shingle
    // guard every production decontamination pass runs): a shingle the
    // whole corpus shares proves nothing about contamination, and it is
    // exactly the join's quadratic term — per-shingle fanout is df_train ×
    // df_eval, so one saturated shingle degrades the plan toward all-pairs
    // (measured 25× super-linear at sf1, where the synthetic 31-word vocab
    // saturates the trigram domain; real-text "of the and" heads behave
    // the same). The guard is df-inert at the graded sf0.01 scale (max df
    // ≈ 30) and bounds the join at any scale; oracle applies the same cap.
    "pipe_decontaminate" -> ((s, d) => {
      import s.implicits._
      val sh = Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("t"))
        .filter(size($"t") >= 3)
        .select($"doc_id", explode(array_distinct(expr(
          "transform(sequence(1, size(t) - 2), i -> concat_ws(' ', slice(t, i, 3)))")))
          .as("sh"))
      // (doc_id, sh) pairs are distinct, so count(*) per shingle IS df;
      // the semi-join back is on the same key as the main join, so the
      // exchange is reused, not doubled.
      val keep = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
        .filter($"df" <= 256).select($"sh")
      val shK = sh.join(keep, "sh")
      val evalSh = shK.filter($"doc_id" % 50 === 0)
        .select($"doc_id".as("eval_id"), $"sh")
      val trainSh = shK.filter($"doc_id" % 50 =!= 0)
      trainSh.join(evalSh, "sh")
        .groupBy($"doc_id".as("train_id"), $"eval_id")
        .agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= 2)
        .orderBy("train_id", "eval_id")
    }),

    // Composite curation verdict: every document gets exactly one keep/drop
    // reason with a fixed precedence (too_short > too_long > repetitive >
    // exact_dup > keep) — the single-pass quality gate that fans a raw
    // corpus into keep/reject streams. Length and repetition signals are
    // map-side; the only shuffle is the md5 dup-rank window.
    "pipe_corpus_curation" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val dupW = Window.partitionBy($"h").orderBy($"doc_id")
      Tables.documents(s, d)
        .select($"doc_id", $"lang",
          size(split($"text", " ")).as("n_tok"),
          uniqRatioE4($"text").as("uniq_e4"),
          md5($"text".cast("binary")).as("h"))
        .withColumn("dup_rank", row_number().over(dupW))
        .select($"doc_id", $"lang", $"n_tok", $"uniq_e4",
          when($"n_tok" < 10, "too_short")
            .when($"n_tok" > 1000, "too_long")
            .when($"uniq_e4" < 3000, "repetitive")
            .when($"dup_rank" > 1, "exact_dup")
            .otherwise("keep").as("verdict"))
        .orderBy("doc_id")
    }),

    // CAPSTONE — the whole curation pipeline as ONE declarative plan:
    // exact dedup (keep lowest id per content hash) → quality gate (length
    // band + repetition ratio) → near-dup drop (guarded 3-gram Jaccard
    // posting-list pairs over the bounded doc_id<150 candidate slice, 5%
    // threshold, keep lowest id) → per-(source, lang) corpus report.
    // Catalyst sees all four stages at once, so filters push through the
    // whole chain and the dedup/report shuffles share partitioning — the
    // argument for running curation as queries instead of glued scripts.
    "pipe_curation_e2e" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select($"doc_id", $"source", $"lang", $"text",
          size(split($"text", " ")).as("n_tok"),
          uniqRatioE4($"text").as("uniq_e4"),
          md5($"text".cast("binary")).as("h"))
      val s1 = docs
        .withColumn("dup_rank",
          row_number().over(Window.partitionBy($"h").orderBy($"doc_id")))
        .filter($"dup_rank" === 1)
      val s2 = s1.filter($"n_tok".between(10, 1000) && $"uniq_e4" >= 3000)
      val grouped = s2.filter($"doc_id" < 150)
        .select($"doc_id", $"lang", split($"text", " ").as("t"))
        .select($"doc_id", $"lang", explode(TextOps.shingles3).as("sh"))
        .groupBy($"sh", $"lang")
        .agg(sort_array(collect_list($"doc_id")).as("ids"))
        .filter(size($"ids") <= 20)
      val sizes = grouped.select(explode($"ids").as("doc_id"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      val pairs = grouped
        .select(expr(
          """explode(flatten(transform(ids, (x, i) ->
            |  transform(slice(ids, i + 2, size(ids) - i - 1),
            |            y -> struct(x AS d1, y AS d2))))) AS p""".stripMargin))
        .groupBy($"p.d1".as("d1"), $"p.d2".as("d2"))
        .agg(count(lit(1)).as("inter"))
      val drops = pairs
        .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_sh", "n1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_sh", "n2"), "d2")
        .filter(expr("(inter * 1000000) div (n1 + n2 - inter)") >= 50000)
        .select($"d2".as("doc_id")).distinct()
      s2.join(drops, Seq("doc_id"), "left_anti")
        .groupBy($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok".cast("long")).as("n_tokens"))
        .orderBy("source", "lang")
    }),

    // Training-mix allocation: apportion a 1M-sample budget across the 20
    // corpus sources proportionally to token mass, using largest-remainder
    // (Hamilton) apportionment so the integer allocations sum EXACTLY to
    // the budget: base_i = (B·tok_i) div T, then the B − Σbase leftovers go
    // to the largest remainders (ties by source name). The global windows
    // run over the 20-row per-source aggregate, not the raw corpus — the
    // heavy lifting is one map-side token count + one 20-group hash agg,
    // so the single-partition step is O(#sources) at any corpus size.
    "pipe_source_mixture" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val all = Window.partitionBy(lit(0))
      val rankW = all.orderBy($"rem".desc, $"source".asc)
      Tables.documents(s, d)
        .select($"source", size(split($"text", " ")).cast("long").as("tok"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"tok").as("n_tokens"))
        .withColumn("total", sum($"n_tokens").over(all))
        .withColumn("base", expr("(1000000 * n_tokens) div total"))
        .withColumn("rem", expr("(1000000 * n_tokens) % total"))
        .withColumn("extra", lit(1000000) - sum($"base").over(all))
        .withColumn("rk", row_number().over(rankW))
        .select($"source", $"n_docs", $"n_tokens",
          ($"base" + when($"rk" <= $"extra", 1L).otherwise(0L)).as("alloc"))
        .orderBy("source")
    }),

    // Deterministic k-fold assignment: fold = md5(doc_id) % 5 — every
    // engine, run, and worker assigns identically (no rand()), docs never
    // leak between folds across re-runs, and fold balance is verifiable
    // per source. The report is a pure hash-groupBy — scan-shaped, one
    // shuffle of (fold, source) keys at any corpus size.
    "pipe_kfold_split" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", $"source",
          (conv(substring(md5($"doc_id".cast("string").cast("binary")), 1, 8), 16, 10)
            .cast("long") % 5).as("fold"),
          size(split($"text", " ")).cast("long").as("tok"))
        .groupBy($"fold", $"source")
        .agg(count(lit(1)).as("n_docs"), sum($"tok").as("n_tokens"),
          sum($"doc_id").as("id_checksum"))
        .orderBy("fold", "source")
    }),

    // Deterministic weighted sampling per stratum — the corpus-curation
    // primitive behind "sample N docs per language, preferring higher
    // quality". Priority = hash(doc_id) div weight (Efraimidis–Spirakis
    // A-ES collapsed to integer arithmetic: under a uniform hash, a doc's
    // chance of a bottom-k priority grows ∝ its weight); bottom-k
    // priorities win, doc_id breaks ties. Fully deterministic and
    // content-addressed — re-runs and engine swaps reproduce the exact
    // sample, so the oracle hash-matches the SELECTION itself, unlike
    // rand()-based sampling. Scale shape: scan → per-stratum TopK by
    // priority (map-side k-heaps via the window's rank pushdown), no
    // global sort, no driver collect.
    "pipe_weighted_sample" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"lang").orderBy($"priority".asc, $"doc_id".asc)
      Tables.documents(s, d)
        .select($"doc_id", $"lang",
          expr("1 + (n_chars div 100)").as("weight"),
          conv(substring(md5($"doc_id".cast("string").cast("binary")), 1, 15), 16, 10)
            .cast("long").as("h"))
        .withColumn("priority", expr("h div weight"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 20)
        .select($"lang", $"doc_id", $"weight", $"priority")
        .orderBy($"lang", $"priority", $"doc_id")
    }),

    // First iteration of BPE tokenizer training: count adjacent character
    // pairs WITHIN tokens across the corpus — the most frequent pair is
    // the first merge rule. Pairs come from substring(tok, i, 2) over a
    // generated index (no char-array explode), so the stage is
    // explode → hash-agg with map-side partials: the canonical
    // corpus-statistics shape that scales linearly. Real BPE iterates
    // (merge, recount); each round is this same plan over the re-merged
    // symbol stream.
    "pipe_bpe_pair_counts" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter($"doc_id" < 200)
        .select(explode(split($"text", " ")).as("tok"))
        .filter(length($"tok") >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
          .as("pair"))
        .groupBy($"pair")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"pair".asc)
        .limit(50)
    }),

    // Dataset card: the per-source summary table a corpus release ships
    // with — doc/token/char volumes, language spread with a deterministic
    // dominant language (highest count, lexicographic tie-break), exact-dup
    // count within each source×lang cell, and mean doc length in
    // centitokens. ONE scan:
    // the md5 dedup count rides the same (source, lang)-level shuffle as
    // the language mode via two stacked hash-aggs; every measure is a sum
    // or count so map-side partials carry the 100 TB case.
    "pipe_dataset_card" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val perLang = Tables.documents(s, d)
        .select($"source", $"lang", $"n_chars",
          size(split($"text", " ")).cast("long").as("tok"),
          md5($"text".cast("binary")).as("h"))
        .groupBy($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"tok").as("n_tokens"),
          sum($"n_chars").as("n_chars"),
          count_distinct($"h").as("n_uniq"))
      val modeW = Window.partitionBy($"source")
        .orderBy($"n_docs".desc, $"lang".asc)
      perLang
        .withColumn("lang_rk", row_number().over(modeW))
        .groupBy($"source")
        .agg(sum($"n_docs").as("n_docs"),
          count(lit(1)).as("n_langs"),
          max(when($"lang_rk" === 1, $"lang")).as("top_lang"),
          sum($"n_tokens").as("n_tokens"),
          sum($"n_chars").as("n_chars"),
          (sum($"n_docs") - sum($"n_uniq")).as("n_exact_dup"))
        .withColumn("mean_tok_e2", expr("n_tokens * 100 div n_docs"))
        .orderBy("source")
    }),

    // KenLM-style language-model quality filtering as relational algebra:
    // train a bigram LM on the corpus (MLE counts), then score every
    // document by how surprising its bigrams are under that LM — the
    // two-pass train-then-score shape every production quality filter
    // (CCNet and descendants) runs at scale. The surprise surrogate is
    // integer-exact: mean over the doc's bigrams of the inverse
    // conditional probability c(w1)·1e6 div c(w1,w2) (≥ 1e6; a doc full
    // of corpus-typical transitions scores low, boilerplate/garble high)
    // — rank-equivalent to a perplexity cut without logs, so both
    // engines hash-match. Emits the 100 most surprising docs (the drop
    // candidates). At 100 TB: the LM tables are vocab-bounded (≪ corpus,
    // pruned LMs broadcast), the score join is linear in corpus bigrams,
    // and a production run materializes the exploded bigram set once for
    // the three uses instead of recomputing the explode per agg.
    "pipe_lm_score_filter" -> ((s, d) => {
      import s.implicits._
      // c(w1) is a rollup of c(w1,w2) over the vocab-sized LM table (one
      // corpus-wide agg, never a second corpus pass), and the two LM
      // tables join each other BEFORE touching the corpus. The combined
      // LM is broadcast EXPLICITLY: it is vocab²-bounded (pruned LMs ship
      // as broadcast artifacts in production) — left to stats, Spark
      // broadcast the CORPUS side here (explode output has no stats),
      // which is a driver-side collect of the whole bigram set and the
      // exact anti-pattern at 100 TB. Scoring therefore shuffles nothing:
      // scan → explode → broadcast-probe → per-doc agg.
      val bg = Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("t"))
        .select($"doc_id", posexplode(expr(
          """CASE WHEN size(t) >= 2
            |THEN transform(sequence(1, size(t) - 1),
            |  i -> struct(t[i - 1] AS w1, t[i] AS w2))
            |ELSE array() END""".stripMargin)).as(Seq("pos", "p")))
        .select($"doc_id", $"p.w1".as("w1"), $"p.w2".as("w2"))
      val c12 = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      val c1 = c12.groupBy($"w1").agg(sum($"c12").as("c1"))
      val lm = c12.join(c1, Seq("w1"))
      bg.join(broadcast(lm), Seq("w1", "w2"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(expr("c1 * 1000000 div c12")).as("surprise"))
        .select($"doc_id", $"n_bigrams",
          expr("surprise div n_bigrams").as("ppl_e6"))
        .orderBy($"ppl_e6".desc, $"doc_id".asc)
        .limit(100)
    }),

    // BPE tokenizer TRAINING, iterated — the real merge loop, not just
    // pair statistics (pipe_bpe_pair_counts is the one-shot profile).
    // Words become per-occurrence character sequences; each round counts
    // adjacent symbol pairs, picks the argmax (count desc, pair asc —
    // the deterministic tie-break), and APPLIES the merge before the
    // next round recounts. Greedy-leftmost overlap semantics (the x=y
    // case, e.g. merging 'ee' inside 'eee') are handled exactly: islands
    // of consecutive candidate positions keep only even offsets from the
    // island start — for x≠y candidates can't be adjacent, so the same
    // rule degrades to "keep all". Two rounds are unrolled (the pagerank
    // pattern: localCheckpoint between rounds truncates lineage) and a
    // third argmax PROVES the post-merge state — its pair can only exist
    // if both merges were applied correctly. At corpus scale each round
    // is two hash-shuffles (pair count keyed by symbol pair, candidate
    // windows keyed by word) — the documented distributed-BPE dataflow;
    // vocabulary-bounded docs<50 keeps the graded fixture constant-size.
    "pipe_bpe_train_rounds" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val byWid = Window.partitionBy($"wid").orderBy($"pos")
      val base = Tables.documents(s, d).filter($"doc_id" < 50)
        .select($"doc_id", posexplode(split($"text", " "))
          .as(Seq("wpos", "word")))
        .filter(length($"word") >= 1)
        .select(concat($"doc_id", lit("_"), $"wpos").as("wid"), $"word")
        .select($"wid", explode(expr("sequence(1, length(word))")).as("pos"),
          $"word")
        .select($"wid", $"pos", expr("substring(word, pos, 1)").as("sym"))
        .localCheckpoint()

      def round(toks: DataFrame): (DataFrame, DataFrame) = {
        val nxt = toks.select($"wid".as("wid2"), ($"pos" - 1).as("pos2"),
          $"sym".as("nxt"))
        val adj = toks.join(nxt,
          $"wid" === $"wid2" && $"pos" === $"pos2")
        val best = adj.groupBy($"sym", $"nxt")
          .agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"sym".asc, $"nxt".asc).limit(1)
          .select($"sym".as("x"), $"nxt".as("y"), $"n")
        val cand = adj.crossJoin(broadcast(best))
          .filter($"sym" === $"x" && $"nxt" === $"y")
          .select($"wid", $"pos")
        val kept = cand
          .withColumn("grp", $"pos" - row_number().over(byWid))
          .withColumn("start",
            min($"pos").over(Window.partitionBy($"wid", $"grp")))
          .filter((($"pos" - $"start") % 2) === 0)
          .select($"wid".as("kwid"), $"pos".as("kpos"))
        val merged = toks
          .join(nxt, $"wid" === $"wid2" && $"pos" === $"pos2", "left")
          .join(kept, $"wid" === $"kwid" && $"pos" === $"kpos", "left")
          .join(kept.select($"kwid".as("dwid"), ($"kpos" + 1).as("dpos")),
            $"wid" === $"dwid" && $"pos" === $"dpos", "left_anti")
          .select($"wid", $"pos",
            when($"kpos".isNotNull, concat($"sym", $"nxt"))
              .otherwise($"sym").as("sym"))
          .withColumn("pos", row_number().over(byWid))
          .select($"wid", $"pos", $"sym")
          .localCheckpoint()
        (merged, best)
      }

      val (t1, best1) = round(base)
      val (t2, best2) = round(t1)
      val best3 = t2
        .join(t2.select($"wid".as("wid2"), ($"pos" - 1).as("pos2"),
          $"sym".as("nxt")), $"wid" === $"wid2" && $"pos" === $"pos2")
        .groupBy($"sym", $"nxt").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"sym".asc, $"nxt".asc).limit(1)
        .select($"sym".as("x"), $"nxt".as("y"), $"n")
      best1.withColumn("round", lit(1L))
        .unionByName(best2.withColumn("round", lit(2L)))
        .unionByName(best3.withColumn("round", lit(3L)))
        .select($"round", $"x".as("tok_x"), $"y".as("tok_y"),
          $"n".as("n_pairs"))
        .orderBy("round")
    }),

    // Incremental corpus near-dup maintenance (round-3 verdict item 5):
    // the nightly job a 100 TB pipeline actually runs. Day-0 state = a
    // partitioned corpus table + its MinHash-LSH band index, both on
    // disk. A batch arrives (new docs 140..299, updated docs 120..139
    // with changed text, deletes among the old corpus) and
    //   1. the batch's signatures probe the MAINTAINED index via a
    //      (band, bh) equi-join — cost ∝ batch × bucket occupancy, the
    //      full corpus is never re-signed or re-read;
    //   2. BOTH tables are merge-updated through the partition-COW sink
    //      (corpus keyed by doc_id, index keyed by doc_id within its
    //      band partition — an update's new band hash replaces the old
    //      row, a delete drops all 4 band rows).
    // The graded output proves the POST-MERGE INDEX ≡ a from-scratch
    // rebuild over the post-merge corpus (computed both ways in-engine,
    // flag pinned by the oracle's independent rebuild) and carries the
    // probe's candidate-pair count. At 100 TB the index would partition
    // by (band, bucket-range); candidate rerank fetches signatures for
    // candidates only.
    "pipe_incremental_neardup" -> ((s, d) => {
      import s.implicits._
      val root = s"${graft.fixtureRoot}/incr_neardup"
      val corpusDir = s"$root/corpus"
      val indexDir = s"$root/index"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val docs = Tables.documents(s, d)
      def bandRows(dd: org.apache.spark.sql.DataFrame) =
        TextOps.minhashBands(dd).select($"doc_id", $"band", $"bh")
      // day-0 state
      val base = docs.filter($"doc_id" < 140).select($"doc_id", $"text")
      base.withColumn("p", ($"doc_id" % 8).cast("string"))
        .write.partitionBy("p").mode("overwrite").parquet(corpusDir)
      bandRows(base).withColumn("band", $"band".cast("string"))
        .write.partitionBy("band").mode("overwrite").parquet(indexDir)
      // the nightly batch
      val upserts = docs.filter($"doc_id" >= 120 && $"doc_id" < 300)
        .select($"doc_id",
          when($"doc_id" < 140, concat($"text", lit(" refresh")))
            .otherwise($"text").as("text"))
      val deletes = docs.filter($"doc_id" < 120 && $"doc_id" % 37 === 5)
        .select($"doc_id")
      // 1. probe the maintained index with BATCH signatures only
      val newBands = bandRows(upserts).localCheckpoint() // reused 3x below
      val idx = s.read.parquet(indexDir)
        .select($"doc_id".as("old_id"), $"band".cast("int").as("band"), $"bh")
      val nCand = newBands.join(idx, Seq("band", "bh"))
        .filter($"old_id" =!= $"doc_id")
        .select($"doc_id", $"old_id").distinct().count()
      // 2. merge-update corpus and index
      val corpusChanges = upserts.withColumn("op", lit("U"))
        .unionByName(deletes
          .withColumn("text", lit(null).cast("string"))
          .withColumn("op", lit("D")))
        .withColumn("p", ($"doc_id" % 8).cast("string"))
        .withColumn("seq", lit(1L))
      graft.sources.MergeSink.mergeInto(
        s, corpusDir, corpusChanges, Seq("doc_id"), "p")
      val idxChanges = newBands.withColumn("op", lit("U"))
        .unionByName(deletes
          .select($"doc_id", explode(expr("sequence(0, 3)")).as("band"))
          .withColumn("bh", lit(null).cast("long"))
          .withColumn("op", lit("D")))
        .withColumn("seq", lit(1L))
      graft.sources.MergeSink.mergeInto(
        s, indexDir, idxChanges, Seq("doc_id"), "band")
      // 3. graded output: merged-index summary + rebuild-equality proof
      val merged = s.read.parquet(indexDir)
        .select($"doc_id", $"band".cast("long").as("band"), $"bh")
      // localCheckpoint: the two exceptAll sides below would otherwise
      // each recompute the full MinHash banding of the merged corpus —
      // the single most expensive pass in this row, paid twice for one
      // equality proof. Values are unchanged; the pass runs once.
      val rebuilt = bandRows(
          s.read.parquet(corpusDir).select($"doc_id", $"text"))
        .select($"doc_id", $"band".cast("long").as("band"), $"bh")
        .localCheckpoint()
      val diff = merged.exceptAll(rebuilt).count() +
        rebuilt.exceptAll(merged).count()
      merged.groupBy($"band")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"doc_id").as("n_docs"),
          sum($"bh").as("sum_bh"))
        .withColumn("match_rebuild", lit(if (diff == 0L) 1L else 0L))
        .withColumn("n_cand_pairs", lit(nCand))
        .orderBy("band")
    })
  )

  /** DuckDB text of the MinHash-LSH band pipeline over CTE `src`
    * (doc_id, text), emitting `${p}bands` (doc_id, band, bh) — the exact
    * dual of [[TextOps.minhashBands]], replicated per source with prefix
    * `p` for the incremental-neardup oracle. */
  private def mhBandsSql(p: String, src: String): String =
    s"""${p}t AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       |${p}ti AS (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM ${p}t),
       |${p}sh AS (
       |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
       |  FROM ${p}ti WHERE i <= len(t) - 2),
       |${p}x AS (
       |  SELECT doc_id, CAST(('0x' || substring(md5(sh), 1, 8)) AS BIGINT) AS x
       |  FROM ${p}sh),
       |${p}pos AS (
       |  SELECT doc_id, j, MIN(((2 * j + 1) * x + 7 * j + 3) % 2147483647) AS mh
       |  FROM ${p}x, range(0, 16) r(j) GROUP BY doc_id, j),
       |${p}sigs AS (
       |  SELECT doc_id, list(mh ORDER BY j) AS sig FROM ${p}pos GROUP BY doc_id),
       |${p}bands AS (
       |  SELECT doc_id, b AS band,
       |    CAST(('0x' || substring(md5(array_to_string(
       |      list_transform(list_slice(sig, b * 4 + 1, b * 4 + 4),
       |        v -> CAST(v AS VARCHAR)), ':')), 1, 8)) AS BIGINT) AS bh
       |  FROM ${p}sigs, range(0, 4) r(b))""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // Independent from-scratch rebuild: the post-merge corpus is derived
    // relationally (survivors + refreshed updates + new docs), its band
    // index recomputed, and the probe replayed against the PRE-merge
    // index — pinning match_rebuild=1 makes the hash compare prove the
    // engine's merge-maintained index equals this rebuild exactly.
    "pipe_incremental_neardup" ->
      s"""WITH final_corpus AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id < 120 AND doc_id % 37 <> 5
         |  UNION ALL
         |  SELECT doc_id, text || ' refresh' FROM documents
         |  WHERE doc_id >= 120 AND doc_id < 140
         |  UNION ALL
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id >= 140 AND doc_id < 300),
         |pre_corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 140),
         |batch AS (
         |  SELECT doc_id, CASE WHEN doc_id < 140 THEN text || ' refresh'
         |                      ELSE text END AS text
         |  FROM documents WHERE doc_id >= 120 AND doc_id < 300),
         |${mhBandsSql("f", "final_corpus")},
         |${mhBandsSql("p", "pre_corpus")},
         |${mhBandsSql("b", "batch")},
         |cand AS (
         |  SELECT DISTINCT b.doc_id, p.doc_id AS old_id
         |  FROM bbands b JOIN pbands p
         |    ON b.band = p.band AND b.bh = p.bh AND p.doc_id <> b.doc_id),
         |ncand AS (SELECT COUNT(*) AS n FROM cand)
         |SELECT band, COUNT(*) AS n_rows, COUNT(DISTINCT doc_id) AS n_docs,
         |  CAST(SUM(bh) AS BIGINT) AS sum_bh,
         |  CAST(1 AS BIGINT) AS match_rebuild,
         |  CAST((SELECT n FROM ncand) AS BIGINT) AS n_cand_pairs
         |FROM fbands GROUP BY band ORDER BY band""".stripMargin,
    // The identical two applied merge rounds + proving third argmax; the
    // greedy-leftmost island rule is the same even-offset filter. Word
    // keys are engine-local (never output) — only the per-word symbol
    // sequences must agree.
    "pipe_bpe_train_rounds" ->
      """WITH words AS (
        |  SELECT doc_id, sp, unnest(range(0, len(sp))) AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS sp
        |        FROM documents WHERE doc_id < 50)),
        |wrd AS (
        |  SELECT CAST(doc_id AS VARCHAR) || '_' || CAST(w AS VARCHAR) AS wid,
        |         sp[CAST(w + 1 AS INT)] AS word
        |  FROM words WHERE len(sp[CAST(w + 1 AS INT)]) >= 1),
        |t0a AS (
        |  SELECT wid, word, unnest(range(1, len(word) + 1)) AS pos FROM wrd),
        |t0 AS (
        |  SELECT wid, pos, substr(word, CAST(pos AS INT), 1) AS sym FROM t0a),
        |adj1 AS (
        |  SELECT t.wid, t.pos, t.sym, u.sym AS nxt
        |  FROM t0 t JOIN t0 u ON u.wid = t.wid AND u.pos = t.pos + 1),
        |best1 AS (
        |  SELECT sym AS x, nxt AS y, COUNT(*) AS n FROM adj1 GROUP BY 1, 2
        |  ORDER BY n DESC, x ASC, y ASC LIMIT 1),
        |cand1 AS (
        |  SELECT a.wid, a.pos FROM adj1 a, best1 b
        |  WHERE a.sym = b.x AND a.nxt = b.y),
        |kept1 AS (
        |  SELECT wid, pos FROM (
        |    SELECT wid, pos, MIN(pos) OVER (PARTITION BY wid, grp) AS start
        |    FROM (SELECT wid, pos,
        |            pos - row_number() OVER (PARTITION BY wid ORDER BY pos)
        |              AS grp
        |          FROM cand1))
        |  WHERE (pos - start) % 2 = 0),
        |t1 AS (
        |  SELECT wid, row_number() OVER (PARTITION BY wid ORDER BY pos)
        |    AS pos, sym
        |  FROM (
        |    SELECT t.wid, t.pos,
        |      CASE WHEN k.pos IS NOT NULL THEN t.sym || n.sym
        |           ELSE t.sym END AS sym
        |    FROM t0 t
        |    LEFT JOIN kept1 k ON k.wid = t.wid AND k.pos = t.pos
        |    LEFT JOIN t0 n ON n.wid = t.wid AND n.pos = t.pos + 1
        |    WHERE NOT EXISTS (SELECT 1 FROM kept1 d
        |                      WHERE d.wid = t.wid AND d.pos = t.pos - 1))),
        |adj2 AS (
        |  SELECT t.wid, t.pos, t.sym, u.sym AS nxt
        |  FROM t1 t JOIN t1 u ON u.wid = t.wid AND u.pos = t.pos + 1),
        |best2 AS (
        |  SELECT sym AS x, nxt AS y, COUNT(*) AS n FROM adj2 GROUP BY 1, 2
        |  ORDER BY n DESC, x ASC, y ASC LIMIT 1),
        |cand2 AS (
        |  SELECT a.wid, a.pos FROM adj2 a, best2 b
        |  WHERE a.sym = b.x AND a.nxt = b.y),
        |kept2 AS (
        |  SELECT wid, pos FROM (
        |    SELECT wid, pos, MIN(pos) OVER (PARTITION BY wid, grp) AS start
        |    FROM (SELECT wid, pos,
        |            pos - row_number() OVER (PARTITION BY wid ORDER BY pos)
        |              AS grp
        |          FROM cand2))
        |  WHERE (pos - start) % 2 = 0),
        |t2 AS (
        |  SELECT wid, row_number() OVER (PARTITION BY wid ORDER BY pos)
        |    AS pos, sym
        |  FROM (
        |    SELECT t.wid, t.pos,
        |      CASE WHEN k.pos IS NOT NULL THEN t.sym || n.sym
        |           ELSE t.sym END AS sym
        |    FROM t1 t
        |    LEFT JOIN kept2 k ON k.wid = t.wid AND k.pos = t.pos
        |    LEFT JOIN t1 n ON n.wid = t.wid AND n.pos = t.pos + 1
        |    WHERE NOT EXISTS (SELECT 1 FROM kept2 d
        |                      WHERE d.wid = t.wid AND d.pos = t.pos - 1))),
        |best3 AS (
        |  SELECT sym AS x, nxt AS y, COUNT(*) AS n
        |  FROM (SELECT t.wid, t.pos, t.sym, u.sym AS nxt
        |        FROM t2 t JOIN t2 u ON u.wid = t.wid AND u.pos = t.pos + 1)
        |  GROUP BY 1, 2 ORDER BY n DESC, x ASC, y ASC LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS round, x AS tok_x, y AS tok_y,
        |       CAST(n AS BIGINT) AS n_pairs FROM best1
        |UNION ALL SELECT CAST(2 AS BIGINT), x, y, CAST(n AS BIGINT) FROM best2
        |UNION ALL SELECT CAST(3 AS BIGINT), x, y, CAST(n AS BIGINT) FROM best3
        |ORDER BY round""".stripMargin,
    "pipe_curation_e2e" ->
      """WITH docs AS (
        |  SELECT doc_id, source, lang, text,
        |    len(string_split(text, ' ')) AS n_tok,
        |    len(list_distinct(string_split(text, ' '))) * 10000
        |      // len(string_split(text, ' ')) AS uniq_e4,
        |    md5(text) AS h
        |  FROM documents),
        |s1 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS dr
        |    FROM docs) WHERE dr = 1),
        |s2 AS (
        |  SELECT * FROM s1
        |  WHERE n_tok BETWEEN 10 AND 1000 AND uniq_e4 >= 3000),
        |t AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS t
        |  FROM s2 WHERE doc_id < 150),
        |ti AS (
        |  SELECT doc_id, lang, t, generate_subscripts(t, 1) AS i FROM t),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, lang, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM ti WHERE i <= len(t) - 2),
        |sh AS (
        |  SELECT sh0.* FROM sh0
        |  JOIN (SELECT sh, lang FROM sh0 GROUP BY sh, lang HAVING COUNT(*) <= 20) k
        |  USING (sh, lang)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |drops AS (
        |  SELECT DISTINCT d2 AS doc_id
        |  FROM pairs JOIN sizes z1 ON z1.doc_id = d1 JOIN sizes z2 ON z2.doc_id = d2
        |  WHERE (inter * 1000000) // (z1.n_sh + z2.n_sh - inter) >= 50000)
        |SELECT source, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM drops)
        |GROUP BY source, lang ORDER BY source, lang""".stripMargin,
    "pipe_source_mixture" ->
      """WITH a AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, n_docs, n_tokens,
        |    (1000000 * n_tokens) // (SUM(n_tokens) OVER ()) AS base,
        |    (1000000 * n_tokens) % (SUM(n_tokens) OVER ()) AS rem
        |  FROM a),
        |r AS (
        |  SELECT *, 1000000 - SUM(base) OVER () AS extra,
        |    row_number() OVER (ORDER BY rem DESC, source ASC) AS rk
        |  FROM w)
        |SELECT source, n_docs, n_tokens,
        |  CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r ORDER BY source""".stripMargin,
    "pipe_chunk_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |starts AS (
        |  SELECT doc_id, t, len(t) AS n_tok, 1 + 10 * k AS p,
        |    CAST(k AS INT) AS chunk_id
        |  FROM t, range(0, 64) r(k)
        |  WHERE 1 + 10 * k <= greatest(len(t) - 19, 1))
        |SELECT doc_id, chunk_id, CAST(n_tok AS INT) AS n_tok,
        |  CAST(len(t[p:p+19]) AS INT) AS chunk_tok,
        |  array_to_string(t[p:p+19], ' ') AS chunk
        |FROM starts ORDER BY doc_id, chunk_id""".stripMargin,
    "pipe_sample_stratified" ->
      """SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |WHERE bucket < 20 GROUP BY lang ORDER BY lang""".stripMargin,
    "pipe_weighted_sample" ->
      """WITH p AS (
        |  SELECT doc_id, lang, 1 + (n_chars // 100) AS weight,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      // (1 + (n_chars // 100)) AS priority
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id, weight, priority,
        |    row_number() OVER (PARTITION BY lang ORDER BY priority ASC, doc_id ASC) AS rn
        |  FROM p)
        |SELECT lang, doc_id, weight, priority FROM r WHERE rn <= 20
        |ORDER BY lang, priority, doc_id""".stripMargin,
    "pipe_kfold_split" ->
      """SELECT fold, source, COUNT(*) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS fold,
        |    len(string_split(text, ' ')) AS tok
        |  FROM documents)
        |GROUP BY fold, source ORDER BY fold, source""".stripMargin,
    // unnest(range(1, len)) works as a scalar-list unnest in DuckDB 1.0
    // (lateral range(col) does not); range end is exclusive so i covers
    // 1..len-1, the valid 2-char substring starts.
    "pipe_bpe_pair_counts" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 200),
        |p AS (
        |  SELECT substr(tok, CAST(i AS INT), 2) AS pair
        |  FROM (SELECT tok, unnest(range(1, len(tok))) AS i
        |        FROM toks WHERE len(tok) >= 2) t)
        |SELECT pair, COUNT(*) AS n FROM p GROUP BY pair
        |ORDER BY n DESC, pair ASC LIMIT 50""".stripMargin,
    "pipe_pii_scrub" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com ref '
        |         || CAST(doc_id * 7919 AS VARCHAR) AS raw
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, '[a-z0-9.]+@[a-z0-9.]+')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(regexp_replace(raw, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'), '[0-9]{3,}')) AS INT) AS n_num,
        |  regexp_replace(regexp_replace(raw, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'), '[0-9]{3,}', '<NUM>', 'g') AS scrubbed
        |FROM raw ORDER BY doc_id""".stripMargin,
    "pipe_repetition_filter" ->
      """SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq,
        |  (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 10000)
        |    // len(string_split(text, ' ')) AS uniq_ratio_e4
        |FROM documents
        |WHERE (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 10000)
        |    // len(string_split(text, ' ')) >= 3000
        |ORDER BY doc_id""".stripMargin,
    // Both arms replicated exactly (integer BM25; cosine ranked on the
    // rounded e6 score), RRF fused with truncating 1000000//(60+rank),
    // absent-arm ranks as 0.
    "pipe_hybrid_retrieval" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id < 300),
        |stats AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM docs),
        |corp AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) // COUNT(*) AS avg_tok
        |  FROM stats),
        |tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(t) AS tok FROM docs) u
        |  WHERE tok IN ('hash', 'merge', 'scan')
        |  GROUP BY doc_id, tok),
        |dfc AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |bm AS (
        |  SELECT tf.doc_id,
        |    SUM(((tf.tf * 3 * 1000000) // (tf.tf * 1000
        |          + 2 * (250 + (750 * st.dl) // corp.avg_tok)))
        |        * (((corp.n_docs - dfc.df + 1) * 1000) // (dfc.df + 1)))
        |      AS score_e6
        |  FROM tf JOIN dfc USING (tok) JOIN stats st USING (doc_id), corp
        |  GROUP BY tf.doc_id
        |  ORDER BY score_e6 DESC, doc_id ASC LIMIT 20),
        |lex AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY score_e6 DESC, doc_id ASC)
        |    AS lex_rank FROM bm),
        |e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 300),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |cosed AS (
        |  SELECT e.vec_id AS doc_id,
        |    CAST(round(
        |      list_reduce(list_transform(list_zip(e.v, q.qv), z -> z[1] * z[2]), (x, y) -> x + y)
        |      / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (x, y) -> x + y))
        |         * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (x, y) -> x + y)))
        |      * 1000000) AS BIGINT) AS cos_e6
        |  FROM e, q WHERE e.vec_id <> 0
        |  ORDER BY cos_e6 DESC, doc_id ASC LIMIT 20),
        |vec AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY cos_e6 DESC, doc_id ASC)
        |    AS vec_rank FROM cosed)
        |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
        |  COALESCE(l.lex_rank, 0) AS lex_rank,
        |  COALESCE(v.vec_rank, 0) AS vec_rank,
        |  COALESCE(1000000 // (60 + l.lex_rank), 0)
        |    + COALESCE(1000000 // (60 + v.vec_rank), 0) AS rrf_e6
        |FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
        |ORDER BY rrf_e6 DESC, doc_id ASC LIMIT 10""".stripMargin,
    "pipe_context_pack" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tok,
        |    CAST(coalesce(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM t)
        |SELECT doc_id, lang, n_tok,
        |  tok_before // 2048 AS bin_id,
        |  tok_before - (tok_before // 2048) * 2048 AS bin_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    "pipe_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |ti AS (
        |  SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM t),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM ti WHERE i <= len(t) - 2),
        |keep AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 256),
        |shk AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep k ON s.sh = k.sh)
        |SELECT a.doc_id AS train_id, b.doc_id AS eval_id, COUNT(*) AS n_shared
        |FROM shk a JOIN shk b ON a.sh = b.sh
        |WHERE a.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
        |GROUP BY a.doc_id, b.doc_id
        |HAVING COUNT(*) >= 2
        |ORDER BY train_id, eval_id""".stripMargin,
    "pipe_corpus_curation" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
        |    (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 10000)
        |      // len(string_split(text, ' ')) AS uniq_e4,
        |    md5(text) AS h
        |  FROM documents),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS dup_rank
        |  FROM d)
        |SELECT doc_id, lang, n_tok, uniq_e4,
        |  CASE WHEN n_tok < 10 THEN 'too_short'
        |       WHEN n_tok > 1000 THEN 'too_long'
        |       WHEN uniq_e4 < 3000 THEN 'repetitive'
        |       WHEN dup_rank > 1 THEN 'exact_dup'
        |       ELSE 'keep' END AS verdict
        |FROM r ORDER BY doc_id""".stripMargin,
    "pipe_dataset_card" ->
      """WITH perlang AS (
        |  SELECT source, lang, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |    COUNT(DISTINCT md5(text)) AS n_uniq
        |  FROM documents GROUP BY source, lang),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY n_docs DESC, lang ASC) AS lang_rk
        |  FROM perlang)
        |SELECT source, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |  COUNT(*) AS n_langs,
        |  max(CASE WHEN lang_rk = 1 THEN lang END) AS top_lang,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  CAST(SUM(n_docs) - SUM(n_uniq) AS BIGINT) AS n_exact_dup,
        |  CAST(SUM(n_tokens) * 100 // SUM(n_docs) AS BIGINT) AS mean_tok_e2
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    // Same MLE bigram LM + inverse-probability scoring; SUM cast before
    // the integer divide (R9b).
    "pipe_lm_score_filter" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM t) x
        |  WHERE i <= len(t) - 1),
        |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(c1.c1 * 1000000 // c12.c12) AS BIGINT) // COUNT(*) AS ppl_e6
        |FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        |GROUP BY doc_id
        |ORDER BY ppl_e6 DESC, doc_id ASC LIMIT 100""".stripMargin
  )
}
