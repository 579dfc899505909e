package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** §2-J text-analysis + dedup operators for large-scale training-data
  * pipelines (wordcount, exact dedup, quality scoring, token counting,
  * fingerprinting, SimHash, n-gram Jaccard, MinHash candidate pairs).
  *
  * Cross-engine hashing: token→int via the first 8 (or 15) hex digits of
  * md5 — bit-identical in Spark (`conv(substring(md5(x),1,8),16,10)`) and
  * DuckDB (`CAST('0x' || substring(md5(x),1,8) AS BIGINT)`). All derived
  * similarity scores are exact integer ratios (×1e4/×1e6, integer
  * division) so hash-compare can't drift (rule R2).
  *
  * Scale: everything here is explode → hash-shuffle → aggregate; the
  * pairwise stages (Jaccard / MinHash bands) join on an equi key (shingle /
  * band signature) so candidate generation is a plain shuffle join, never a
  * cartesian product — the LSH structure is exactly what keeps near-dup
  * tractable at 100 TB.
  */
object TextOps extends QueryModule {

  /** 32-bit token hash shared with the DuckDB oracle. */
  private def tokInt(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")

  /** MinHash-LSH band rows for a (doc_id, text) corpus: 16 minhashes over
    * 3-token shingles, banded 4×4 → one row per (doc, band) with the band
    * hash `bh` that serves as the LSH bucket key. Shared by the one-shot
    * candidate query (dedup_minhash_lsh_bands) and the MAINTAINED index
    * (pipe_incremental_neardup) so the graded oracle equivalence proven
    * for the former carries to the latter. `sig` rides along for callers
    * that rerank candidates by signature agreement. */
  private[graft] def minhashBands(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sig = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(shingles3).as("sh"))
      .select(col("doc_id"), tokInt(col("sh")).as("x"))
      .groupBy(col("doc_id"))
      .agg(graft.plans.MinHashAgg.minhash(col("x"), 16).as("sig"))
    sig.select(col("doc_id"), col("sig"), expr(
      """explode(transform(sequence(0, 3), b -> struct(b AS band,
        |  cast(conv(substring(md5(cast(concat_ws(':',
        |    transform(slice(sig, b * 4 + 1, 4), v -> cast(v as string)))
        |  as binary)), 1, 8), 16, 10) as bigint) AS bh))) AS p""".stripMargin))
      .select(col("doc_id"), col("sig"),
        col("p.band").as("band"), col("p.bh").as("bh"))
  }

  /** Distinct 3-token shingles of array column `t`, guarded for docs with
    * fewer than 3 tokens: sequence(0, size-3) on a short doc descends
    * through -1 and slice(t, 0, 3) throws (SQL arrays are 1-based), so
    * short docs yield an empty array — matching the oracle, where
    * `WHERE i <= len(t)-2` simply generates no shingle rows. */
  private[operators] val shingles3 = expr(
    """CASE WHEN size(t) >= 3
      |  THEN array_distinct(transform(sequence(0, size(t) - 3),
      |    i -> concat_ws(' ', slice(t, i + 1, 3))))
      |  ELSE array() END""".stripMargin)

  /** 60-bit SimHash signature per document (doc_id < 200): md5-derived
    * per-token 60-bit hashes, bitwise majority vote. Shared by
    * dedup_simhash (the signature dump) and dedup_simhash_pairs (the
    * Hamming-band near-dup search).
    *
    * Computed by the [[graft.plans.SimHash60]] codegen expression — one
    * scalar pass over the token array, NO explode and no shuffle (the
    * relational formulation this replaced exploded tokens × 60 bit
    * positions through two hash aggregations; the DuckDB oracle still
    * runs that form, so the hash match doubles as a cross-implementation
    * proof, and SimHashSpec asserts expression ≡ relational on the
    * testdata plus the measured win). */
  private def simhashSigs(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    Tables.documents(s, d)
      .filter($"doc_id" < 200)
      .select($"doc_id",
        graft.plans.SimHash60.simhash60(split($"text", " ")).as("simhash"))
  }

  private[graft] def simhashSigsForTest(
      s: org.apache.spark.sql.SparkSession, d: String) = simhashSigs(s, d)

  /** The pre-expression relational SimHash (explode × 60 → two hash aggs)
    * — kept as the reference implementation SimHashSpec checks the
    * expression against. */
  private[graft] def simhashSigsRelational(
      s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    Tables.documents(s, d)
      .filter($"doc_id" < 200)
      .select($"doc_id", explode(array_distinct(split($"text", " "))).as("tok"))
      .select($"doc_id",
        conv(substring(md5($"tok".cast("binary")), 1, 15), 16, 10).cast("long").as("h"))
      .select($"doc_id", $"h", explode(sequence(lit(0), lit(59))).as("k"))
      .groupBy($"doc_id", $"k")
      .agg(sum(expr("CASE WHEN shiftright(h, k) % 2 = 1 THEN 1 ELSE -1 END")).as("s"))
      .groupBy($"doc_id")
      .agg(sum(expr("CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), k) ELSE CAST(0 AS BIGINT) END"))
        .as("simhash"))
  }

  val queries: Map[String, Q] = Map(
    // J1: tokenize, explode, top-50 tokens.
    "text_wordcount" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(explode(split($"text", " ")).as("token"))
        .groupBy($"token")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"token".asc)
        .limit(50)
    }),

    // J2: exact duplicate detection via md5 fingerprint, per language.
    // Inverted index build — the IR/retrieval primitive: token → document
    // frequency + posting-list head (10 lowest doc ids). The head is ranked
    // BEFORE any collect (row_number per token, filter rn ≤ 10, then a
    // 10-element collect_list), so no operator ever materializes an
    // unbounded array: an uncapped collect_list on a stopword is the
    // classic executor OOM — at 100 TB full postings live as chunked rows
    // or bitmaps, never a single array cell, and this query's shape is
    // exactly that bounded-head form.
    "text_inverted_index" -> ((s, d) => {
      import s.implicits._
      val byTok = org.apache.spark.sql.expressions.Window.partitionBy($"token")
      Tables.documents(s, d)
        .select($"doc_id",
          explode(array_distinct(split($"text", " "))).as("token"))
        .withColumn("df", count(lit(1)).over(byTok))
        .withColumn("rn", row_number().over(byTok.orderBy($"doc_id")))
        .filter($"rn" <= 10)
        .groupBy($"token")
        .agg(max($"df").as("df"),
          // rule R9a: posting array → ','-joined STRING at the boundary
          array_join(sort_array(collect_list($"doc_id")), ",")
            .as("postings_head_csv"))
        .orderBy("token")
    }),

    "text_exact_dedup" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"lang", md5($"text".cast("binary")).as("h"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"h").as("n_distinct"),
          (count(lit(1)) - countDistinct($"h")).as("n_dups"))
        .orderBy("lang")
    }),

    // J3: per-language doc count + char totals; avg as exact integer
    // micro-ratio (sum*1e4 div n — truncating division both engines).
    "text_lang_stats" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("sum_chars"))
        .select($"lang", $"n_docs", $"sum_chars",
          expr("(sum_chars * 10000) div n_docs").as("avg_chars_e4"))
        .orderBy("lang")
    }),

    // Quality scoring: per-doc integer metrics (length, token count, mean
    // token length ×1e4, stopword count).
    "text_quality_score" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter($"doc_id" < 200)
        .select($"doc_id",
          length($"text").as("len"),
          size(split($"text", " ")).as("n_tokens"),
          expr("size(filter(split(text, ' '), t -> t IN ('the', 'a', 'data', 'value')))")
            .as("n_stop"))
        .withColumn("avg_tok_len_e4",
          expr("((len - (n_tokens - 1)) * 10000) div n_tokens"))
        .orderBy("doc_id")
    }),

    // Token counting: whitespace + regex tokenizations side by side.
    "text_token_count" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          size(split($"text", " ")).as("n_ws"),
          size(split($"text", "[^a-z0-9]+")).as("n_re"),
          size(array_distinct(split($"text", " "))).as("n_uniq"))
        .orderBy("doc_id")
    }),

    // BPE-ish token budget estimate: GPT-2-style pre-tokenization (letter
    // runs | digit runs | punctuation runs — the same regex splits in Java
    // regex and RE2) and a length-based subword count, ceil(len/4) per
    // pre-token (the ~4-chars-per-BPE-token rule of thumb). Pure map-side
    // integer math via array HOFs — no explode, no shuffle; at 100 TB this
    // is the per-document token-budget pass before context packing.
    "text_bpe_subword_est" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)").as("toks"))
        .select($"doc_id",
          size($"toks").as("n_pretok"),
          expr("aggregate(toks, 0L, (a, t) -> a + (length(t) + 3) div 4)")
            .as("n_subword_est"),
          size(expr("filter(toks, t -> length(t) > 8)")).as("n_long"))
        .orderBy("doc_id")
    }),

    // TF-IDF-ish keyword extraction: per-document top-3 distinctive tokens
    // by the exact integer score tf×1e6 div df (df = docs containing the
    // token within the same bounded corpus slice). Two hash-aggs (term
    // frequency, document frequency) + an equi-join on the token + one
    // per-doc top-k window — every stage shuffles on a key it aggregates
    // by, nothing quadratic, the standard distributed TF-IDF shape.
    "text_tfidf_topk" -> ((s, d) => {
      import s.implicits._
      val tf = Tables.documents(s, d)
        .filter($"doc_id" < 200)
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"score_e6".desc, $"tok".asc)
      tf.join(dfc, "tok")
        .withColumn("score_e6", expr("(tf * 1000000) div df"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"doc_id", $"rn", $"tok", $"tf", $"df", $"score_e6")
        .orderBy("doc_id", "rn")
    }),

    // Fuzzy entity resolution by BLOCKING: candidate pairs come from an
    // equi-join on a cheap blocking key (the first name token), then the
    // expensive edit-distance runs only within blocks — O(Σ block²)
    // instead of O(n²), the standard record-linkage architecture. At
    // 100 TB the blocking key is the shuffle key and oversized blocks get
    // a second key (length bucket) — same pattern as every LSH family
    // here: cheap candidate generation, exact rerank.
    "dedup_fuzzy_blocking" -> ((s, d) => {
      import s.implicits._
      val p = Tables.part(s, d)
        .filter($"p_partkey" < 200)
        .select($"p_partkey", $"p_name",
          element_at(split($"p_name", " "), 1).as("blk"))
      p.as("a").join(p.as("b"),
          col("a.blk") === col("b.blk") &&
          col("a.p_partkey") < col("b.p_partkey"))
        .select(col("a.p_partkey").as("d1"), col("b.p_partkey").as("d2"),
          col("a.p_name").as("name1"), col("b.p_name").as("name2"),
          levenshtein(col("a.p_name"), col("b.p_name")).cast("long").as("lev"))
        .filter($"lev" <= 4)
        .orderBy("d1", "d2")
    }),

    // BM25-style ranked retrieval for a fixed 3-term query, fully integer:
    // per-term score = tf-saturation × idf, summed over matched terms.
    // tf-saturation uses the real BM25 form (k1=2, b=0.75, length-
    // normalized against the corpus mean doc length) in e3 fixed-point;
    // idf uses the rational surrogate (N−df+1)·1000 div (df+1) — monotone
    // in df like log((N−df+.5)/(df+.5)) but log-free, so both engines
    // compute bit-identical scores (rule R2). The plan is the posting-list
    // retrieval shape: explode → filter to query terms BEFORE any
    // aggregation (the scan output is ~|q| rows per doc, not the whole
    // token stream), tiny df/global tables broadcast, one per-doc sum,
    // TakeOrdered top-10. At 100 TB this is exactly an inverted-index
    // probe: the term filter is the index lookup, everything downstream
    // is proportional to the posting lists, not the corpus.
    "text_bm25_topk" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .filter($"doc_id" < 300)
        .select($"doc_id", split($"text", " ").as("t"))
      val stats = docs.select($"doc_id", size($"t").cast("long").as("dl"))
      val glob = stats.agg(count(lit(1)).as("n_docs"), sum($"dl").as("tot"))
        .select($"n_docs", expr("tot div n_docs").as("avg_tok"))
      val tf = docs
        .select($"doc_id", explode($"t").as("tok"))
        .filter($"tok".isin("hash", "merge", "scan"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfc), "tok")
        .join(stats, "doc_id")
        .crossJoin(broadcast(glob))
        .withColumn("k_e3", expr("2 * (250 + (750 * dl) div avg_tok)"))
        .withColumn("tfp_e3", expr("(tf * 3 * 1000000) div (tf * 1000 + k_e3)"))
        .withColumn("idf_e3", expr("((n_docs - df + 1) * 1000) div (df + 1)"))
        .groupBy($"doc_id")
        .agg(max($"dl").as("dl"), count(lit(1)).as("n_terms"),
          sum($"tfp_e3" * $"idf_e3").as("score_e6"))
        .orderBy($"score_e6".desc, $"doc_id".asc)
        .limit(10)
    }),

    // Document fingerprinting: position-weighted polynomial over 32-bit
    // token hashes — pure BIGINT, order-sensitive, cross-engine exact.
    "text_fingerprint" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter($"doc_id" < 300)
        .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "tok")))
        .select($"doc_id", $"pos", tokInt($"tok").as("h"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum($"h" * ($"pos" + 1)).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // Language-ID heuristic over documents — oracle-checked: the marker
    // scoring is pure integer math and the (score, lang) argmax with its
    // lexicographic tie-break is replicated in SQL via a zero-padded
    // sortable string (LangIdSpec additionally asserts accuracy on
    // authored fixtures).
    "text_lang_id" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", $"lang".as("labeled"),
          graft.functions.LangId.langId($"text").as("predicted"))
        .orderBy("doc_id")
    }),

    // Embedding-cosine near-dup: documents paired via their embedding
    // vectors (doc_id ↔ vec_id), same language, rounded cosine ≥ 0.25.
    // At scale the pair generation goes through AnnSearch's LSH buckets;
    // here the candidate set is bounded (doc_id < 200) so exact pairing
    // doubles as the oracle-checkable reference.
    "dedup_embedding_cosine" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).filter($"doc_id" < 200)
        .select($"doc_id", $"lang")
      val embedded = docs.join(Tables.embeddings(s, d),
        docs("doc_id") === col("vec_id"))
        .select($"doc_id", $"lang", $"embedding")
      val a = embedded.select($"doc_id".as("d1"), $"lang".as("l1"), $"embedding".as("e1"))
      val b = embedded.select($"doc_id".as("d2"), $"lang".as("l2"), $"embedding".as("e2"))
      a.join(b, $"d1" < $"d2" && $"l1" === $"l2")
        .select($"d1", $"d2", $"l1".as("lang"),
          round(graft.functions.AnnSearch.cosine($"e1", $"e2") * 1000000)
            .cast("long").as("cos_e6"))
        .filter($"cos_e6" >= 250000)
        .orderBy("d1", "d2")
    }),

    // SimHash (60-bit) over distinct tokens: per bit, majority vote of
    // token-hash bits; reassemble as a BIGINT signature.
    "dedup_simhash" -> ((s, d) => {
      import s.implicits._
      simhashSigs(s, d).orderBy("doc_id")
    }),

    // Hamming-ball near-dup search over the SimHash signatures — the
    // companion LSH: by pigeonhole, any pair within Hamming distance 12 of
    // a 60-bit signature agrees exactly on at least one of 4 15-bit bands,
    // so banding the signature into (band, chunk) equi-keys finds every
    // such pair with NO pairwise scan; bit_count(xor) reranks candidates
    // exactly. Same candidate-generation-then-rerank architecture as
    // MinHash banding and sign-LSH — the band key is the shuffle/partition
    // key at 100 TB and collisions are the only pairs ever materialized.
    "dedup_simhash_pairs" -> ((s, d) => {
      import s.implicits._
      val bands = simhashSigs(s, d)
        .select($"doc_id", $"simhash",
          explode(sequence(lit(0), lit(3))).as("b"))
        .select($"doc_id", $"simhash", $"b",
          expr("shiftright(simhash, 15 * b) & 32767").as("chunk"))
      bands.as("x").join(bands.as("y"),
          col("x.b") === col("y.b") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          col("x.simhash").as("s1"), col("y.simhash").as("s2"))
        .distinct()
        .select($"d1", $"d2",
          expr("cast(bit_count(s1 ^ s2) as bigint)").as("hamming"))
        .filter($"hamming" <= 12)
        .orderBy("d1", "d2")
    }),

    // Exact n-gram (3-shingle) Jaccard near-dup: distinct shingles,
    // equi-join on shingle within language, top-100 most similar pairs.
    // Skew guard: shingles present in > 20 documents (stopword 3-grams)
    // carry ~no Jaccard signal but dominate the self-join fan-out at
    // 100 TB (a shingle in k docs emits k² candidate rows). Document
    // frequency comes from ONE count-over-(sh, lang) window — partitioned
    // on exactly the self-join's keys, so the join reuses the window's
    // shuffle instead of adding its own (PlanShapeSpec pins this; a
    // groupBy hot-list + anti-join would recompute the shingle explode
    // twice). Per-language DF is also the right unit: pairing is
    // within-language, so cross-language occurrences of a shingle can't
    // generate candidates anyway. Jaccard is then computed consistently
    // over the filtered sets on BOTH engines (sizes AND intersections
    // exclude hot shingles).
    "dedup_ngram_jaccard" -> ((s, d) => {
      import s.implicits._
      // Group shingles ONCE per (sh, lang) into a sorted doc-id list; the
      // DF guard becomes size(ids) <= 20 (rows are distinct per (doc, sh)).
      // Pairs are then generated MAP-SIDE from each list (i < j over a
      // sorted array ⇒ d1 < d2, ≤ 190 pairs/shingle by the guard) instead
      // of a shingle self-join — one grouped subtree feeds both the pair
      // counts and the per-doc sizes, so the exchange is reused, where the
      // self-join shape recomputed the scan+window four times. This is the
      // posting-list pair-count shape that survives 100 TB: shuffle volume
      // is one row per distinct shingle, fan-out bounded by the DF cap.
      val grouped = Tables.documents(s, d)
        .filter($"doc_id" < 150)
        .select($"doc_id", $"lang", split($"text", " ").as("t"))
        .select($"doc_id", $"lang", explode(shingles3).as("sh"))
        .groupBy($"sh", $"lang")
        .agg(sort_array(collect_list($"doc_id")).as("ids"))
        .filter(size($"ids") <= 20)
      val sizes = grouped
        .select(explode($"ids").as("doc_id"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      val pairs = grouped
        .select(expr(
          """explode(flatten(transform(ids, (x, i) ->
            |  transform(slice(ids, i + 2, size(ids) - i - 1),
            |            y -> struct(x AS d1, y AS d2))))) AS p""".stripMargin))
        .groupBy($"p.d1".as("d1"), $"p.d2".as("d2"))
        .agg(count(lit(1)).as("inter"))
      pairs
        .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_sh", "n1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_sh", "n2"), "d2")
        .select($"d1", $"d2", $"inter",
          expr("(inter * 1000000) div (n1 + n2 - inter)").as("jac_e6"))
        .orderBy($"jac_e6".desc, $"d1".asc, $"d2".asc)
        .limit(100)
    }),

    // Dedup as an ACTION, not a report: drop every document that is the
    // higher-id member of a near-dup pair (Jaccard ≥ 5%), keeping the
    // lowest-id representative — the corpus-cleaning step of a training
    // pipeline (greedy one-pass policy; a connected-components pass would
    // refine clusters at the cost of iteration).
    "dedup_corpus_keep" -> ((s, d) => {
      import s.implicits._
      val sh = Tables.documents(s, d)
        .filter($"doc_id" < 150)
        .select($"doc_id", $"lang", split($"text", " ").as("t"))
        .select($"doc_id", $"lang", explode(shingles3).as("sh"))
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      val dupIds = sh.as("a")
        .join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_sh", "n1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_sh", "n2"), "d2")
        .filter(expr("(inter * 1000000) div (n1 + n2 - inter) >= 50000"))
        .select($"d2".as("doc_id")).distinct()
      Tables.documents(s, d)
        .filter($"doc_id" < 150)
        .join(dupIds, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"lang", $"n_chars")
        .orderBy("doc_id")
    }),

    // Threshold-sensitivity curve for the near-dup policy: how many pairs
    // fire and how many documents the greedy lowest-id-keep would drop at
    // EACH candidate Jaccard threshold — the tuning report you read
    // before committing to a cutoff (too low eats distinct docs, too high
    // leaks near-dups). One pair computation feeds every threshold via an
    // explode; cost is the same one posting-list pass as the dedup itself.
    "pipe_dedup_threshold_curve" -> ((s, d) => {
      import s.implicits._
      val sh = Tables.documents(s, d)
        .filter($"doc_id" < 150)
        .select($"doc_id", $"lang", split($"text", " ").as("t"))
        .select($"doc_id", $"lang", explode(shingles3).as("sh"))
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      val scored = sh.as("a")
        .join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_sh", "n1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_sh", "n2"), "d2")
        .select($"d2", expr("(inter * 1000000) div (n1 + n2 - inter)").as("jac_e6"))
      scored
        .select($"d2", $"jac_e6",
          explode(expr("array(5000L, 10000L, 25000L, 50000L, 400000L)"))
            .as("thr"))
        .filter($"jac_e6" >= $"thr")
        .groupBy($"thr")
        .agg(count(lit(1)).as("n_pairs"),
          count_distinct($"d2").as("n_docs_dropped"))
        .orderBy("thr")
    }),

    // Connected-components dup clustering — the refinement over the greedy
    // pairwise keep: near-dup pairs (3-gram Jaccard >= 5%) form an edge
    // list, and 3 synchronous rounds of min-label propagation assign every
    // document its cluster's smallest doc_id. A FIXED iteration count keeps
    // the plan static and the result deterministic on both engines
    // (components of diameter <= 3 fully converge; the oracle unrolls the
    // same three rounds). At 100 TB each round is one equi-join + hash agg
    // on the edge list — the standard large-graph CC loop, iterated to a
    // fixpoint with early-exit in a production driver.
    "dedup_cluster_cc" -> ((s, d) => {
      import s.implicits._
      val sh = Tables.documents(s, d)
        .filter($"doc_id" < 150)
        .select($"doc_id", $"lang", split($"text", " ").as("t"))
        .select($"doc_id", $"lang", explode(shingles3).as("sh"))
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      val pairs = sh.as("a")
        .join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_sh", "n1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_sh", "n2"), "d2")
        .filter(expr("(inter * 1000000) div (n1 + n2 - inter) >= 15000"))
        .select($"d1", $"d2")
      // The static edge set feeds every propagation round; materialize it
      // ONCE (localCheckpoint truncates the lineage to a computed RDD) so
      // the shingle self-join + Jaccard filter — the expensive subtree —
      // runs once, not once per round (GraphX materializes its graph the
      // same way). Measured sf0.1: ~2x on the clustering queries. At
      // 100 TB the edges would persist to disk-backed storage instead.
      val edges = pairs.select($"d1".as("src"), $"d2".as("dst"))
        .unionByName(pairs.select($"d2".as("src"), $"d1".as("dst")))
        .localCheckpoint()
      var labels = Tables.documents(s, d).filter($"doc_id" < 150)
        .select($"doc_id".as("v"), $"doc_id".as("lbl"))
      for (_ <- 1 to 3) {
        val nbr = edges.join(labels, col("src") === col("v"))
          .groupBy($"dst").agg(min($"lbl").as("nlbl"))
        labels = labels.join(nbr, labels("v") === nbr("dst"), "left")
          .select(labels("v"),
            least(labels("lbl"), coalesce(col("nlbl"), labels("lbl"))).as("lbl"))
      }
      val byCluster = org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")
      labels.select($"v".as("doc_id"), $"lbl".as("cluster_id"))
        .withColumn("cluster_size", count(lit(1)).over(byCluster))
        .orderBy("doc_id")
    }),

    // Dedup as a QUALITY policy: within each near-dup cluster keep the
    // highest-quality member (longest document, id tie-break) instead of
    // the lowest id — what production curation actually does, since the
    // lowest-id copy is often the truncated or boilerplate variant. Same
    // unrolled min-label CC as dedup_cluster_cc; the tail is one rank
    // window over (cluster, quality).
    "dedup_cluster_keep_best" -> ((s, d) => {
      import s.implicits._
      val sh = Tables.documents(s, d)
        .filter($"doc_id" < 150)
        .select($"doc_id", $"lang", split($"text", " ").as("t"))
        .select($"doc_id", $"lang", explode(shingles3).as("sh"))
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      val pairs = sh.as("a")
        .join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_sh", "n1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_sh", "n2"), "d2")
        .filter(expr("(inter * 1000000) div (n1 + n2 - inter) >= 15000"))
        .select($"d1", $"d2")
      // The static edge set feeds every propagation round; materialize it
      // ONCE (localCheckpoint truncates the lineage to a computed RDD) so
      // the shingle self-join + Jaccard filter — the expensive subtree —
      // runs once, not once per round (GraphX materializes its graph the
      // same way). Measured sf0.1: ~2x on the clustering queries. At
      // 100 TB the edges would persist to disk-backed storage instead.
      val edges = pairs.select($"d1".as("src"), $"d2".as("dst"))
        .unionByName(pairs.select($"d2".as("src"), $"d1".as("dst")))
        .localCheckpoint()
      var labels = Tables.documents(s, d).filter($"doc_id" < 150)
        .select($"doc_id".as("v"), $"doc_id".as("lbl"))
      for (_ <- 1 to 3) {
        val nbr = edges.join(labels, col("src") === col("v"))
          .groupBy($"dst").agg(min($"lbl").as("nlbl"))
        labels = labels.join(nbr, labels("v") === nbr("dst"), "left")
          .select(labels("v"),
            least(labels("lbl"), coalesce(col("nlbl"), labels("lbl"))).as("lbl"))
      }
      val byCluster = org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")
      labels.select($"v".as("doc_id"), $"lbl".as("cluster_id"))
        .join(Tables.documents(s, d).filter($"doc_id" < 150)
          .select($"doc_id", $"n_chars"), "doc_id")
        .withColumn("rk", row_number().over(
          byCluster.orderBy($"n_chars".desc, $"doc_id".asc)))
        .withColumn("n_members", count(lit(1)).over(byCluster))
        .filter($"rk" === 1)
        .select($"cluster_id", $"doc_id".as("keep_id"),
          $"n_chars".as("keep_chars"), $"n_members")
        .orderBy("cluster_id")
    }),

    // MinHash signatures (16 permutation hashes over 3-gram shingles) →
    // candidate pairs ranked by matching hash count (Jaccard estimator).
    // Signatures come from the custom MinHashAgg sketch: one compact
    // 16-long buffer per doc through the shuffle (map-side partial agg),
    // not 16× exploded rows; the hash family matches the SQL oracle.
    "dedup_minhash_pairs" -> ((s, d) => {
      import s.implicits._
      val sh = Tables.documents(s, d)
        .filter($"doc_id" < 200)
        .select($"doc_id", split($"text", " ").as("t"))
        .select($"doc_id", explode(shingles3).as("sh"))
        .select($"doc_id", tokInt($"sh").as("x"))
      val sig = sh
        .groupBy($"doc_id")
        .agg(graft.plans.MinHashAgg.minhash($"x", 16).as("sig"))
        .select($"doc_id", posexplode($"sig").as(Seq("j", "mh")))
      sig.as("a")
        .join(sig.as("b"),
          col("a.j") === col("b.j") && col("a.mh") === col("b.mh") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("n_match"))
        .orderBy($"n_match".desc, $"d1".asc, $"d2".asc)
        .limit(100)
    }),

    // Exact dedup AFTER canonical text normalization (lowercase, strip
    // non-alphanumerics, collapse whitespace) — the form real pipelines
    // run, since byte-exact dedup misses trivially reformatted copies.
    // Same 100 TB shape as text_exact_dedup: one shuffle of 32-hex-char
    // keys, map-side partial counts.
    "dedup_exact_normalized" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          md5(trim(regexp_replace(lower($"text"), "[^a-z0-9]+", " "))
            .cast("binary")).as("h"))
        .groupBy($"h")
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("h")
    }),

    // Containment near-dup: C(A,B) = |A∩B| / min(|A|,|B|) over 3-gram
    // shingles — catches quotes/subsets that Jaccard dilutes (a doc fully
    // contained in a much larger one has tiny Jaccard but containment 1).
    // Same posting-list pair-count subtree as dedup_ngram_jaccard (one
    // grouped-shingle shuffle, map-side i<j expansion, DF cap ≤ 20), only
    // the final ratio differs — at 100 TB the candidate stage is shared
    // between both reports.
    "dedup_shingle_containment" -> ((s, d) => {
      import s.implicits._
      val grouped = Tables.documents(s, d)
        .filter($"doc_id" < 150)
        .select($"doc_id", $"lang", split($"text", " ").as("t"))
        .select($"doc_id", $"lang", explode(shingles3).as("sh"))
        .groupBy($"sh", $"lang")
        .agg(sort_array(collect_list($"doc_id")).as("ids"))
        .filter(size($"ids") <= 20)
      val sizes = grouped
        .select(explode($"ids").as("doc_id"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      val pairs = grouped
        .select(expr(
          """explode(flatten(transform(ids, (x, i) ->
            |  transform(slice(ids, i + 2, size(ids) - i - 1),
            |            y -> struct(x AS d1, y AS d2))))) AS p""".stripMargin))
        .groupBy($"p.d1".as("d1"), $"p.d2".as("d2"))
        .agg(count(lit(1)).as("inter"))
      pairs
        .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_sh", "n1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_sh", "n2"), "d2")
        .select($"d1", $"d2", $"inter",
          expr("(inter * 1000000) div least(n1, n2)").as("cont_e6"))
        .orderBy($"cont_e6".desc, $"d1".asc, $"d2".asc)
        .limit(100)
    }),

    // Banded MinHash LSH — the full b×r pipeline (b=4 bands of r=4 rows)
    // over the 16-hash signature: a pair becomes a candidate iff some
    // band's 4-tuple matches EXACTLY, which shapes the match probability
    // into the classic S-curve 1-(1-j^r)^b (vs the per-position join of
    // dedup_minhash_pairs ≡ r=1, which fires on any single hash). Bands
    // hash to 32-bit keys via md5 so the candidate join is a plain
    // equi-join on (band, key); the signature-agreement rerank stays a
    // zip_with fold over the two 16-long arrays. At 100 TB: band keys are
    // the partition keys, candidates ≪ pairs, r tunes precision.
    "dedup_minhash_lsh_bands" -> ((s, d) => {
      import s.implicits._
      val bands = minhashBands(
        Tables.documents(s, d).filter($"doc_id" < 200).select($"doc_id", $"text"))
      bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("n_bands"),
          first(expr(
            """aggregate(zip_with(a.sig, b.sig, (x, y) -> IF(x = y, 1L, 0L)),
              |0L, (acc, v) -> acc + v)""".stripMargin)).as("n_agree"))
        .select($"d1", $"d2", $"n_bands",
          expr("(n_agree * 1000000) div 16").as("est_jac_e6"))
        .orderBy($"est_jac_e6".desc, $"d1".asc, $"d2".asc)
        .limit(100)
    }),

    // Winnowing document fingerprinting (Schleimer/Wilkerson/Aiken, MOSS):
    // hash every 8-char k-gram, then in each window of 4 consecutive
    // hashes keep the minimum (ties → rightmost). Winnowing guarantees any
    // shared substring of length ≥ k + w - 1 = 11 chars yields a shared
    // fingerprint, while keeping ~2/(w+1) of positions — a LOCAL sampling
    // rule, so unlike MinHash it localizes WHERE the overlap is and
    // catches partial containment (plagiarism / quote detection) that
    // whole-document sketches dilute. The min-with-rightmost-tie-break is
    // encoded arithmetically so both engines run one bigint window MIN:
    // key = h40 * 2^20 + (2^20-1-pos); min key ⇔ (min h, then max pos).
    // pos < 2^20 assumed (1 MB docs) — chunk longer docs upstream.
    // At 100 TB: per-doc scan-shaped signature extraction (narrow window,
    // no shuffle until the fingerprint groupBy), then the same bounded
    // posting-list pair-count shape as dedup_ngram_jaccard — the DF≤20
    // guard caps fan-out so candidate generation is a plain shuffle.
    "dedup_winnow_fingerprint" -> ((s, d) => {
      import s.implicits._
      winnowFingerprints(Tables.documents(s, d).filter($"doc_id" < 150))
        .groupBy($"h")
        .agg(sort_array(collect_list($"doc_id")).as("ids"))
        .filter(size($"ids") <= 20)
        .select(expr(
          """explode(flatten(transform(ids, (x, i) ->
            |  transform(slice(ids, i + 2, size(ids) - i - 1),
            |            y -> struct(x AS d1, y AS d2))))) AS p""".stripMargin))
        .groupBy($"p.d1".as("d1"), $"p.d2".as("d2"))
        .agg(count(lit(1)).as("shared"))
        .orderBy($"shared".desc, $"d1".asc, $"d2".asc)
        .limit(100)
    }),

    // Prefix-filtered set-similarity join (Chaudhuri/Bayardo AllPairs,
    // PPJoin): for Jaccard ≥ t, order each document's distinct tokens by
    // global rarity (df, then token — a total order) and probe only the
    // first |d| - ceil(t·|d|) + 1 of them (t = 0.5 ⇒ n div 2 + 1). The
    // prefix-filtering principle makes this LOSSLESS: J(x,y) ≥ t forces
    // the two prefixes to share a token, so the candidate equi-join on
    // prefix tokens finds every qualifying pair; exact Jaccard over the
    // full sets then verifies candidates. The DuckDB oracle runs the
    // NAIVE all-pairs posting join with no prefix — the hash match is an
    // empirical proof of losslessness (same cross-algorithm pattern as
    // join_range_auto). At 100 TB this is THE set-join shape: candidate
    // volume scales with prefix postings (rare tokens ⇒ short lists),
    // not full postings, and the rarity ordering concentrates the join
    // on exactly the low-fan-out keys.
    "dedup_jaccard_prefix" -> ((s, d) => {
      import s.implicits._
      jaccardPrefixPairs(Tables.documents(s, d).filter($"doc_id" < 150))
        .orderBy($"d1", $"d2")
    })
  )

  /** Winnowing fingerprint extraction: distinct (doc_id, h) where h is a
    * 40-bit md5 k-gram hash selected by the w=4 window-minimum rule
    * (ties → rightmost, encoded as min over h*2^20 + (2^20-1-pos)).
    * Computed by the [[graft.plans.WinnowFp]] codegen expression — one
    * scalar pass per document, no explode and no window shuffle (the
    * relational formulation below explodes one row per character position
    * through two window functions; the DuckDB oracle still runs that
    * form, so the driver hash match doubles as a cross-implementation
    * proof, and WinnowPrefixSpec asserts expression ≡ relational).
    * Shared by the dedup_winnow_fingerprint query and the spec's
    * guarantee tests. */
  private[graft] def winnowFingerprints(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      explode(graft.plans.WinnowFp.winnowFp(col("text"))).as("h"))

  /** The pre-expression relational winnowing (explode positions → two
    * doc-partitioned windows → distinct) — kept as the reference
    * implementation the spec checks the expression against. */
  private[graft] def winnowFingerprintsRelational(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, 3)
    docs
      .select(col("doc_id"), col("text"),
        expr("""explode(CASE WHEN length(text) >= 8
               |THEN sequence(1, length(text) - 7) ELSE array() END)"""
          .stripMargin).as("pos"))
      .select(col("doc_id"), col("pos"),
        (length(col("text")) - 7).as("n_pos"),
        (conv(substring(md5(expr("substring(text, pos, 8)")
            .cast("binary")), 1, 10), 16, 10).cast("long") * 1048576L +
          (lit(1048575L) - col("pos"))).as("key"))
      .withColumn("wkey", min(col("key")).over(byDoc))
      .filter(col("pos") <= col("n_pos") - 3)
      .select(col("doc_id"), expr("wkey div 1048576").as("h"))
      .distinct()
  }

  /** Prefix-filtered exact-Jaccard ≥ 0.5 pair join over `docs(doc_id,
    * text)`: rarity-ordered prefixes (n div 2 + 1 tokens) generate
    * candidates, full sets verify. Lossless by the prefix-filtering
    * principle; WinnowPrefixSpec proves it against the naive all-pairs
    * join on seeded random corpora, and the DuckDB oracle re-proves it on
    * the testdata. */
  private[graft] def jaccardPrefixPairs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val prefix = toks
      .withColumn("df", count(lit(1)).over(W.partitionBy(col("tok"))))
      .withColumn("n", count(lit(1)).over(W.partitionBy(col("doc_id"))))
      .withColumn("r", row_number().over(
        W.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))))
      .filter(expr("r <= n div 2 + 1"))
      .select(col("doc_id"), col("tok"))
    // Candidates via grouped posting lists rather than a prefix self-join:
    // a self-join would recompute the whole df/rank window tower on both
    // sides (Spark does not dedupe the common subtree), where grouping by
    // token computes it ONCE and expands the i<j pairs map-side. Fan-out
    // is bounded by the corpus's prefix-DF distribution — prefixes hold
    // each doc's RAREST tokens, so hot tokens are systematically absent;
    // a pathological all-identical corpus degrades to the same pair
    // volume the lossless guarantee requires anyway (no cap is admissible
    // here — the oracle is the uncapped naive join).
    val cand = prefix.groupBy(col("tok"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(expr(
        """explode(flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids) - i - 1),
          |            y -> struct(x AS d1, y AS d2))))) AS p""".stripMargin))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .distinct()
    cand
      .join(toks.as("ta"), col("d1") === col("ta.doc_id"))
      .join(toks.as("tb"),
        col("d2") === col("tb.doc_id") && col("ta.tok") === col("tb.tok"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("d1", "n1"), "d1")
      .join(sizes.toDF("d2", "n2"), "d2")
      .select(col("d1"), col("d2"), col("inter"),
        expr("(inter * 1000000) div (n1 + n2 - inter)").as("jac_e6"))
      .filter(col("jac_e6") >= 500000)
  }

  val oracleSql: Map[String, String] = Map(
    // Mirrors LangId.langId: marker-token counts per candidate language,
    // argmax with ties to the lexicographically larger language code
    // (Spark's greatest over struct(score, lang)) — encoded here as
    // greatest over '%09d|lang' padded strings, which sorts identically.
    "text_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, lang AS labeled, text,
        |    string_split_regex(lower(text), '[^\p{L}]+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, labeled, text, greatest(
        |    printf('%09d|%s', len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that','it','with'))), 'en'),
        |    printf('%09d|%s', len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','von'))), 'de'),
        |    printf('%09d|%s', len(list_filter(toks, x -> x IN ('le','la','les','et','est','une','dans','que','pour'))), 'fr'),
        |    printf('%09d|%s', len(list_filter(toks, x -> x IN ('el','los','las','es','una','en','que','por','con'))), 'es')) AS b
        |  FROM t)
        |SELECT doc_id, labeled,
        |  CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |       WHEN CAST(substring(b, 1, 9) AS INT) > 0 THEN substring(b, 11)
        |       ELSE 'und' END AS predicted
        |FROM s ORDER BY doc_id""".stripMargin,
    "text_wordcount" ->
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""".stripMargin,
    "text_inverted_index" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |r AS (
        |  SELECT token, doc_id,
        |    count(*) OVER (PARTITION BY token) AS df,
        |    row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
        |  FROM t)
        |SELECT token, max(df) AS df,
        |  array_to_string(list_sort(list(doc_id)), ',') AS postings_head_csv
        |FROM r WHERE rn <= 10
        |GROUP BY token ORDER BY token""".stripMargin,
    "text_exact_dedup" ->
      """SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_distinct,
        |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dups
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "text_lang_stats" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  (CAST(SUM(n_chars) AS BIGINT) * 10000) // COUNT(*) AS avg_chars_e4
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "text_quality_score" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INT) AS len,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the', 'a', 'data', 'value'))) AS INT) AS n_stop,
        |  ((CAST(length(text) AS BIGINT) - (len(string_split(text, ' ')) - 1)) * 10000)
        |    // len(string_split(text, ' ')) AS avg_tok_len_e4
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
        |  CAST(len(string_split_regex(text, '[^a-z0-9]+')) AS INT) AS n_re,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_bpe_subword_est" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS INT) AS n_pretok,
        |  CAST(CASE WHEN len(toks) = 0 THEN 0 ELSE list_reduce(
        |    list_transform(toks, t -> (length(t) + 3) // 4), (x, y) -> x + y)
        |  END AS BIGINT) AS n_subword_est,
        |  CAST(len(list_filter(toks, t -> length(t) > 8)) AS INT) AS n_long
        |FROM t ORDER BY doc_id""".stripMargin,
    "text_tfidf_topk" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 200),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
        |dfc AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |s AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf, dfc.df,
        |    (tf.tf * 1000000) // dfc.df AS score_e6
        |  FROM tf JOIN dfc USING (tok)),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_e6 DESC, tok ASC) AS rn FROM s)
        |SELECT doc_id, CAST(rn AS INT) AS rn, tok, tf, df, score_e6
        |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    "dedup_fuzzy_blocking" ->
      """WITH p AS (
        |  SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS blk
        |  FROM part WHERE p_partkey < 200)
        |SELECT a.p_partkey AS d1, b.p_partkey AS d2,
        |  a.p_name AS name1, b.p_name AS name2,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
        |FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 4
        |ORDER BY d1, d2""".stripMargin,
    "text_bm25_topk" ->
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
        |sc AS (
        |  SELECT tf.doc_id, stats.dl,
        |    (tf.tf * 3 * 1000000) //
        |      (tf.tf * 1000 + 2 * (250 + (750 * stats.dl) // corp.avg_tok))
        |      AS tfp_e3,
        |    ((corp.n_docs - dfc.df + 1) * 1000) // (dfc.df + 1) AS idf_e3
        |  FROM tf JOIN dfc USING (tok) JOIN stats USING (doc_id), corp)
        |SELECT doc_id, MAX(dl) AS dl, COUNT(*) AS n_terms,
        |  CAST(SUM(tfp_e3 * idf_e3) AS BIGINT) AS score_e6
        |FROM sc GROUP BY doc_id
        |ORDER BY score_e6 DESC, doc_id ASC LIMIT 10""".stripMargin,
    "text_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos1,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) * pos1) AS BIGINT) AS fingerprint
        |FROM toks GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_embedding_cosine" ->
      """WITH docs AS (
        |  SELECT doc_id, lang FROM documents WHERE doc_id < 200),
        |e AS (
        |  SELECT doc_id, lang, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM docs JOIN embeddings ON doc_id = vec_id)
        |SELECT a.doc_id AS d1, b.doc_id AS d2, a.lang AS lang,
        |  CAST(round(
        |    list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y)))
        |    * 1000000) AS BIGINT) AS cos_e6
        |FROM e a JOIN e b ON a.doc_id < b.doc_id AND a.lang = b.lang
        |WHERE CAST(round(
        |    list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y)))
        |    * 1000000) AS BIGINT) >= 250000
        |ORDER BY d1, d2""".stripMargin,
    "dedup_simhash" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 200),
        |h AS (
        |  SELECT doc_id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h
        |  FROM toks),
        |bits AS (
        |  SELECT doc_id, k,
        |    CAST(SUM(CASE WHEN (h >> k) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s
        |  FROM h, range(0, 60) r(k) GROUP BY doc_id, k)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_simhash_pairs" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 200),
        |h AS (
        |  SELECT doc_id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h
        |  FROM toks),
        |bits AS (
        |  SELECT doc_id, k,
        |    CAST(SUM(CASE WHEN (h >> k) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s
        |  FROM h, range(0, 60) r(k) GROUP BY doc_id, k),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, simhash, b, (simhash >> (15 * b)) & 32767 AS chunk
        |  FROM sig, range(0, 4) r(b)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
        |    x.simhash AS s1, y.simhash AS s2
        |  FROM bands x JOIN bands y
        |    ON x.b = y.b AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
        |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(s1, s2)) <= 12
        |ORDER BY d1, d2""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id < 150),
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
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT d1, d2, inter,
        |  (inter * 1000000) // (s1.n_sh + s2.n_sh - inter) AS jac_e6
        |FROM pairs JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
        |ORDER BY jac_e6 DESC, d1 ASC, d2 ASC LIMIT 100""".stripMargin,
    "pipe_dedup_threshold_curve" ->
      """WITH t AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id < 150),
        |ti AS (
        |  SELECT doc_id, lang, t, generate_subscripts(t, 1) AS i FROM t),
        |sh AS (
        |  SELECT DISTINCT doc_id, lang, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM ti WHERE i <= len(t) - 2),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |scored AS (
        |  SELECT d2, (inter * 1000000) // (s1.n_sh + s2.n_sh - inter) AS jac_e6
        |  FROM pairs JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2),
        |x AS (
        |  SELECT d2, jac_e6, unnest([5000, 10000, 25000, 50000, 400000]) AS thr
        |  FROM scored)
        |SELECT CAST(thr AS BIGINT) AS thr, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT d2) AS n_docs_dropped
        |FROM x WHERE jac_e6 >= thr
        |GROUP BY thr ORDER BY thr""".stripMargin,
    "dedup_corpus_keep" ->
      """WITH t AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id < 150),
        |ti AS (
        |  SELECT doc_id, lang, t, generate_subscripts(t, 1) AS i FROM t),
        |sh AS (
        |  SELECT DISTINCT doc_id, lang, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM ti WHERE i <= len(t) - 2),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |dups AS (
        |  SELECT DISTINCT d2 AS doc_id
        |  FROM pairs JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
        |  WHERE (inter * 1000000) // (s1.n_sh + s2.n_sh - inter) >= 50000)
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 150 AND doc_id NOT IN (SELECT doc_id FROM dups)
        |ORDER BY doc_id""".stripMargin,
    // Unrolls the same three min-label-propagation rounds as the Spark
    // loop; a fixed round count makes the comparison exact by construction.
    "dedup_cluster_cc" ->
      """WITH t AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id < 150),
        |ti AS (
        |  SELECT doc_id, lang, t, generate_subscripts(t, 1) AS i FROM t),
        |sh AS (
        |  SELECT DISTINCT doc_id, lang, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM ti WHERE i <= len(t) - 2),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |pairsr AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pe AS (
        |  SELECT d1, d2
        |  FROM pairsr JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
        |  WHERE (inter * 1000000) // (s1.n_sh + s2.n_sh - inter) >= 15000),
        |e AS (SELECT d1 AS src, d2 AS dst FROM pe
        |      UNION ALL SELECT d2 AS src, d1 AS dst FROM pe),
        |l0 AS (SELECT doc_id AS v, doc_id AS lbl FROM documents WHERE doc_id < 150),
        |n1 AS (SELECT dst AS v, MIN(l0.lbl) AS nlbl FROM e JOIN l0 ON l0.v = e.src GROUP BY dst),
        |l1 AS (SELECT l0.v, least(l0.lbl, coalesce(n1.nlbl, l0.lbl)) AS lbl
        |       FROM l0 LEFT JOIN n1 ON n1.v = l0.v),
        |n2 AS (SELECT dst AS v, MIN(l1.lbl) AS nlbl FROM e JOIN l1 ON l1.v = e.src GROUP BY dst),
        |l2 AS (SELECT l1.v, least(l1.lbl, coalesce(n2.nlbl, l1.lbl)) AS lbl
        |       FROM l1 LEFT JOIN n2 ON n2.v = l1.v),
        |n3 AS (SELECT dst AS v, MIN(l2.lbl) AS nlbl FROM e JOIN l2 ON l2.v = e.src GROUP BY dst),
        |l3 AS (SELECT l2.v, least(l2.lbl, coalesce(n3.nlbl, l2.lbl)) AS lbl
        |       FROM l2 LEFT JOIN n3 ON n3.v = l2.v)
        |SELECT v AS doc_id, lbl AS cluster_id,
        |  COUNT(*) OVER (PARTITION BY lbl) AS cluster_size
        |FROM l3 ORDER BY doc_id""".stripMargin,
    "dedup_cluster_keep_best" ->
      """WITH t AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id < 150),
        |ti AS (
        |  SELECT doc_id, lang, t, generate_subscripts(t, 1) AS i FROM t),
        |sh AS (
        |  SELECT DISTINCT doc_id, lang, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM ti WHERE i <= len(t) - 2),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |pairsr AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pe AS (
        |  SELECT d1, d2
        |  FROM pairsr JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
        |  WHERE (inter * 1000000) // (s1.n_sh + s2.n_sh - inter) >= 15000),
        |e AS (SELECT d1 AS src, d2 AS dst FROM pe
        |      UNION ALL SELECT d2 AS src, d1 AS dst FROM pe),
        |l0 AS (SELECT doc_id AS v, doc_id AS lbl FROM documents WHERE doc_id < 150),
        |n1 AS (SELECT dst AS v, MIN(l0.lbl) AS nlbl FROM e JOIN l0 ON l0.v = e.src GROUP BY dst),
        |l1 AS (SELECT l0.v, least(l0.lbl, coalesce(n1.nlbl, l0.lbl)) AS lbl
        |       FROM l0 LEFT JOIN n1 ON n1.v = l0.v),
        |n2 AS (SELECT dst AS v, MIN(l1.lbl) AS nlbl FROM e JOIN l1 ON l1.v = e.src GROUP BY dst),
        |l2 AS (SELECT l1.v, least(l1.lbl, coalesce(n2.nlbl, l1.lbl)) AS lbl
        |       FROM l1 LEFT JOIN n2 ON n2.v = l1.v),
        |n3 AS (SELECT dst AS v, MIN(l2.lbl) AS nlbl FROM e JOIN l2 ON l2.v = e.src GROUP BY dst),
        |l3 AS (SELECT l2.v, least(l2.lbl, coalesce(n3.nlbl, l2.lbl)) AS lbl
        |       FROM l2 LEFT JOIN n3 ON n3.v = l2.v),
        |q AS (
        |  SELECT l3.v AS doc_id, l3.lbl AS cluster_id, d.n_chars
        |  FROM l3 JOIN documents d ON d.doc_id = l3.v),
        |r AS (
        |  SELECT doc_id, cluster_id, n_chars,
        |    row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY n_chars DESC, doc_id ASC) AS rk,
        |    COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
        |  FROM q)
        |SELECT cluster_id, doc_id AS keep_id, n_chars AS keep_chars,
        |  CAST(n_members AS BIGINT) AS n_members
        |FROM r WHERE rk = 1 ORDER BY cluster_id""".stripMargin,
    "dedup_minhash_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id < 200),
        |ti AS (
        |  SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM t),
        |sh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM ti WHERE i <= len(t) - 2),
        |x AS (
        |  SELECT doc_id, CAST(('0x' || substring(md5(sh), 1, 8)) AS BIGINT) AS x FROM sh),
        |sig AS (
        |  SELECT doc_id, j, MIN(((2 * j + 1) * x + 7 * j + 3) % 2147483647) AS mh
        |  FROM x, range(0, 16) r(j) GROUP BY doc_id, j)
        |SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_match
        |FROM sig a JOIN sig b ON a.j = b.j AND a.mh = b.mh AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |ORDER BY n_match DESC, d1 ASC, d2 ASC LIMIT 100""".stripMargin,
    "dedup_exact_normalized" ->
      """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h,
        |  MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,
    "dedup_shingle_containment" ->
      """WITH t AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id < 150),
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
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT d1, d2, inter,
        |  (inter * 1000000) // least(s1.n_sh, s2.n_sh) AS cont_e6
        |FROM pairs JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
        |ORDER BY cont_e6 DESC, d1 ASC, d2 ASC LIMIT 100""".stripMargin,
    "dedup_minhash_lsh_bands" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id < 200),
        |ti AS (
        |  SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM t),
        |sh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM ti WHERE i <= len(t) - 2),
        |x AS (
        |  SELECT doc_id, CAST(('0x' || substring(md5(sh), 1, 8)) AS BIGINT) AS x FROM sh),
        |pos AS (
        |  SELECT doc_id, j, MIN(((2 * j + 1) * x + 7 * j + 3) % 2147483647) AS mh
        |  FROM x, range(0, 16) r(j) GROUP BY doc_id, j),
        |sigs AS (
        |  SELECT doc_id, list(mh ORDER BY j) AS sig FROM pos GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, sig, b,
        |    CAST(('0x' || substring(md5(array_to_string(
        |      list_transform(list_slice(sig, b * 4 + 1, b * 4 + 4),
        |        v -> CAST(v AS VARCHAR)), ':')), 1, 8)) AS BIGINT) AS bh
        |  FROM sigs, range(0, 4) r(b)),
        |cand AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_bands,
        |    MIN(list_reduce(list_transform(list_zip(a.sig, b.sig),
        |      p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END), (x, y) -> x + y)) AS n_agree
        |  FROM bands a JOIN bands b
        |    ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT d1, d2, n_bands,
        |  (n_agree * 1000000) // 16 AS est_jac_e6
        |FROM cand
        |ORDER BY est_jac_e6 DESC, d1 ASC, d2 ASC LIMIT 100""".stripMargin,

    // Same winnowing selection rule, spelled with DuckDB's range() (end
    // exclusive: range(1, len-6) = 1..len-7) and the identical
    // key = h40*2^20 + (2^20-1-pos) arithmetic tie-break.
    "dedup_winnow_fingerprint" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 150),
        |pos AS (
        |  SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS pos
        |  FROM docs WHERE len(text) >= 8),
        |keys AS (
        |  SELECT doc_id, pos, len(text) - 7 AS n_pos,
        |    CAST(('0x' || substring(md5(substring(text, pos, 8)), 1, 10))
        |      AS BIGINT) * 1048576 + (1048575 - pos) AS key
        |  FROM pos),
        |wins AS (
        |  SELECT doc_id, pos, n_pos,
        |    MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wkey
        |  FROM keys),
        |fps AS (
        |  SELECT DISTINCT doc_id, wkey // 1048576 AS h
        |  FROM wins WHERE pos <= n_pos - 3),
        |kept AS (
        |  SELECT fps.* FROM fps
        |  JOIN (SELECT h FROM fps GROUP BY h HAVING COUNT(*) <= 20) g
        |    USING (h))
        |SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
        |FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |ORDER BY shared DESC, d1 ASC, d2 ASC LIMIT 100""".stripMargin,

    // The NAIVE all-pairs set-similarity join — no prefix filter. The
    // Spark side probes only rarity-ordered prefixes; hash equality
    // against this plan is the losslessness proof.
    "dedup_jaccard_prefix" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 150),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, inter,
        |  (inter * 1000000) // (s1.n + s2.n - inter) AS jac_e6
        |FROM pairs
        |JOIN sizes s1 ON s1.doc_id = d1
        |JOIN sizes s2 ON s2.doc_id = d2
        |WHERE (inter * 1000000) // (s1.n + s2.n - inter) >= 500000
        |ORDER BY d1 ASC, d2 ASC""".stripMargin
  )
}
