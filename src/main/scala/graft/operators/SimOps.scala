package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.functions.{WPoint, WeightedSumAgg}
import org.apache.spark.sql.functions._

/** §2-J: similarity search over the embedding column + UDF/UDAF surface.
  *
  * Cosine determinism: both engines compute the identical left-to-right
  * float fold (Spark `aggregate(zip_with(...))` ↔ DuckDB
  * `list_reduce(list_transform(list_zip(...)))`) and the identical final
  * formula dot/(sqrt(na)*sqrt(nb)), then round to 1e-6 — IEEE doubles with
  * the same op sequence are bit-identical, so the rounded score matches.
  *
  * Scale: brute-force top-k is one broadcast (the query vector) + one
  * pass + TakeOrdered — linear, no shuffle of the embedding table. The
  * pairwise threshold query is quadratic by nature; its scale path is the
  * LSH bucketing in [[graft.functions.AnnSearch]] (bucket equi-join).
  */
object SimOps extends QueryModule {

  /** cosine(a, b) rounded to 1e-6, as a BIGINT micro-score. Runs through
    * the native [[graft.plans.DotFold]] codegen expression — same left
    * fold order as the DuckDB oracle's list_reduce, so bit-equal. */
  private def cosE6(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    round(graft.functions.AnnSearch.cosine(a, b) * 1000000).cast("long")

  val queries: Map[String, Q] = Map(
    // J4: brute-force cosine top-20 vs the vec_id=0 query vector.
    "sim_cosine_topk" -> ((s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
      e.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(q))
        .select($"vec_id", cosE6($"embedding", $"qv").as("cos_e6"))
        .orderBy($"cos_e6".desc, $"vec_id".asc)
        .limit(20)
    }),

    // J5: all pairs among the first 200 vectors with cosine ≥ 0.25.
    "sim_pairs_threshold" -> ((s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d).filter($"vec_id" < 200)
      val a = e.select($"vec_id".as("v1"), $"embedding".as("ea"))
      val b = e.select($"vec_id".as("v2"), $"embedding".as("eb"))
      a.join(b, $"v1" < $"v2")
        .select($"v1", $"v2", cosE6($"ea", $"eb").as("cos_e6"))
        .filter($"cos_e6" >= 250000)
        .orderBy($"v1".asc, $"v2".asc)
    }),

    // k-NN graph (k=3) over the bounded candidate set: cosine on the i<j
    // half-matrix only, then symmetrize by swapping — half the dot products
    // of the naive all-ordered-pairs join — and row_number per center picks
    // the 3 nearest (ties broken by neighbor id). The k-NN graph is the
    // substrate for graph-based ANN indexes (HNSW/NSG layers) and for
    // embedding-cluster analysis; at corpus scale the half-matrix stage is
    // replaced by LSH/IVF candidate generation (sim_ann_lsh / sim_ann_ivf)
    // feeding the same symmetrize + per-center top-k tail.
    "sim_knn_graph" -> ((s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d).filter($"vec_id" < 200)
      val a = e.select($"vec_id".as("v1"), $"embedding".as("ea"))
      val b = e.select($"vec_id".as("v2"), $"embedding".as("eb"))
      val half = a.join(b, $"v1" < $"v2")
        .select($"v1", $"v2", cosE6($"ea", $"eb").as("cos_e6"))
      val sym = half.unionByName(
        half.select($"v2".as("v1"), $"v1".as("v2"), $"cos_e6"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"v1").orderBy($"cos_e6".desc, $"v2".asc)
      sym.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"v1".as("vec_id"), $"rank".cast("long").as("rank"),
          $"v2".as("nbr_id"), $"cos_e6")
        .orderBy("vec_id", "rank")
    }),

    // ANN scale path — fully oracle-checked: the ±1 hyperplane weights are
    // md5-parity constants (see AnnSearch.planeWeight), so the DuckDB SQL
    // below rebuilds the same buckets, candidate set, and exact rerank.
    // The hash width is CORPUS-SIZED at plan time (autoBits: integer
    // thresholds on COUNT(*), ~16 vectors/bucket expected) so candidate
    // generation stays O(n/2^nBits) per table at any scale — a pinned
    // width degrades to a full scan once the corpus outgrows its buckets.
    // The corpus count is a driver-side parquet-footer read (exact record
    // count, identical to COUNT(*)) — zero Spark jobs, never a data scan.
    // FunctionsSpec additionally asserts recall against the exact top-k.
    "sim_ann_lsh" -> ((s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val nBits = graft.functions.AnnSearch.autoBits(Tables.rowCount(s, d, "embeddings"))
      val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
      graft.functions.AnnSearch
        .annTopK(e.filter($"vec_id" =!= 0), q, 20, dim = 64, nBits = nBits, nTables = 12)
        .select($"vec_id", round($"cos" * 1000000).cast("long").as("cos_e6"))
        .orderBy($"cos_e6".desc, $"vec_id".asc)
    }),

    // Multi-probe LSH: same auto-sized signature pass, but each of only 4
    // tables (vs sim_ann_lsh's 12) is probed at the query bucket plus all
    // nBits single-bit flips — the standard recall-per-byte trade (a near
    // neighbor one hyperplane off is caught by a flip probe instead of
    // needing another whole hash table). Candidate set = integer XOR
    // derivation both engines replicate; FunctionsSpec proves multi-probe
    // recall >= exact-bucket recall at the oversized sf10 width.
    "sim_ann_lsh_multiprobe" -> ((s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val nBits = graft.functions.AnnSearch.autoBits(Tables.rowCount(s, d, "embeddings"))
      val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
      graft.functions.AnnSearch
        .annTopKMulti(e.filter($"vec_id" =!= 0), q, 20, dim = 64,
          nBits = nBits, nTables = 4)
        .select($"vec_id", round($"cos" * 1000000).cast("long").as("cos_e6"))
        .orderBy($"cos_e6".desc, $"vec_id".asc)
    }),

    // IVF scale path — fully oracle-checked: ceil(sqrt(n)) centroids
    // (autoCentroids, cap 4096) seeded from the lowest ids then TRAINED by
    // one exact-integer Lloyd round over the 32·nC-vector prefix, every
    // vector assigned TWO-LEVEL (nearest of ceil(sqrt(nC)) coarse cells,
    // then nearest fine list in-cell — ~2·sqrt(nC) pair-dots per vector,
    // which is what lets the list count grow past the former 256 cap), and
    // the query probing the nearest coarse cells / fine lists before the
    // exact rerank. Every score is exact integer math over round(x·1e4)
    // quanta and every parameter derives from COUNT(*) by integer
    // thresholds, so both engines agree bit-for-bit at every sf.
    // FunctionsSpec additionally asserts recall against the exact top-k.
    "sim_ann_ivf" -> ((s, d) => {
      import s.implicits._
      import graft.functions.AnnSearch
      val e = Tables.embeddings(s, d)
      val n = Tables.rowCount(s, d, "embeddings")
      val nC = AnnSearch.autoCentroids(n)
      val nG = AnnSearch.autoCoarse(nC)
      val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
      AnnSearch
        .ivfTopK(e, q, 20, nCentroids = nC, nProbe = math.max(2, nC / 8),
          nCoarse = nG, trainN = AnnSearch.autoTrainN(n, nC),
          gProbe = math.max(2, nG / 4), excludeId = 0L)
        .select($"vec_id", round($"cos" * 1000000).cast("long").as("cos_e6"))
        .orderBy($"cos_e6".desc, $"vec_id".asc)
    }),

    // BATCHED ANN — the serving shape: a 4-query batch (vec_id 0..3)
    // answered by ONE trained index in one pass. The index build
    // amortizes over the batch; the probe set is a (qid, cid) relation
    // joined once against the cid-keyed inverted file (a list probed by
    // several queries is read once); the per-query top-20 is a
    // qid-partitioned rank on the ROUNDED e6 cosine — per-group top-k
    // via WindowGroupLimit, never a global sort. Self-matches excluded.
    "sim_ann_ivf_batch" -> ((s, d) => {
      import s.implicits._
      import graft.functions.AnnSearch
      val e = Tables.embeddings(s, d)
      val n = Tables.rowCount(s, d, "embeddings")
      val nC = AnnSearch.autoCentroids(n)
      val nG = AnnSearch.autoCoarse(nC)
      val q = e.filter($"vec_id" < 4)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      AnnSearch
        .ivfTopKBatch(e, q, 20, nCentroids = nC,
          nProbe = math.max(2, nC / 8), nCoarse = nG,
          trainN = AnnSearch.autoTrainN(n, nC), gProbe = math.max(2, nG / 4))
    }),

    // FILTERED ANN — the vector-database "search WHERE metadata" shape:
    // the SAME trained two-level IVF index (built on the FULL corpus —
    // a filter must never force an index rebuild), but candidates from
    // the probed lists are pre-filtered on a metadata predicate
    // (label = 7, ~10% selectivity, deliberately NOT the query's own
    // label) before the exact rerank, and the probe budget widens
    // ~1/selectivity (nProbe nc/8 → nc/2, gProbe ng/4 → ng/2) so the
    // filtered candidate pool still covers k survivors — the standard
    // pre-filtering recipe (post-filtering the unfiltered top-k would
    // return < k rows whenever the filter is selective). The oracle
    // replicates the whole derivation with the widened integer budget
    // plus the same IN-subquery on the candidate fetch.
    "sim_ann_ivf_filtered" -> ((s, d) => {
      import s.implicits._
      import graft.functions.AnnSearch
      val e = Tables.embeddings(s, d)
      val n = Tables.rowCount(s, d, "embeddings")
      val nC = AnnSearch.autoCentroids(n)
      val nG = AnnSearch.autoCoarse(nC)
      val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
      AnnSearch
        .ivfTopK(e, q, 20, nCentroids = nC, nProbe = math.max(8, nC / 2),
          nCoarse = nG, trainN = AnnSearch.autoTrainN(n, nC),
          gProbe = math.max(4, nG / 2), excludeId = 0L,
          allowed = Some(e.filter($"label" === 7).select($"vec_id")))
        .select($"vec_id", round($"cos" * 1000000).cast("long").as("cos_e6"))
        .orderBy($"cos_e6".desc, $"vec_id".asc)
    }),

    // IVF-PQ — the billion-scale composition (FAISS IVFADC shape): the
    // SAME trained two-level IVF prunes which lists the query reads, but
    // the in-list candidates are ranked by PRODUCT-QUANTIZATION codes
    // (8 subspaces × autoKsub codes — 4-bit below 64k vectors, 8-bit (the
    // FAISS default) beyond, so ADC resolution grows with the crowding of
    // the score distribution; ≤8 bytes/vector vs 256 raw, the form whose
    // codes fit in memory at 10⁹ vectors) through a per-query ADC lookup
    // table, and only the top-autoRerank (max(200, n/128)) ADC survivors
    // pay the exact raw-vector rerank. Codebook training is one per-subspace exact-integer Lloyd
    // round on the same 32·nC prefix; every score is integer-exact and
    // every parameter COUNT(*)-derived, so DuckDB replicates training,
    // encoding, ADC ranking, and rerank bit-for-bit at every sf.
    // FunctionsSpec additionally asserts recall against the exact top-k.
    "sim_ann_ivf_pq" -> ((s, d) => {
      import s.implicits._
      import graft.functions.AnnSearch
      val e = Tables.embeddings(s, d)
      val n = Tables.rowCount(s, d, "embeddings")
      val nC = AnnSearch.autoCentroids(n)
      val nG = AnnSearch.autoCoarse(nC)
      val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
      AnnSearch
        .ivfPqTopK(e, q, 20, nCentroids = nC, nProbe = math.max(2, nC / 8),
          nCoarse = nG, trainN = AnnSearch.autoTrainN(n, nC),
          gProbe = math.max(2, nG / 4), ksub = AnnSearch.autoKsub(n),
          rerankR = AnnSearch.autoRerank(n), excludeId = 0L)
        .select($"vec_id", round($"cos" * 1000000).cast("long").as("cos_e6"))
        .orderBy($"cos_e6".desc, $"vec_id".asc)
    }),

    // The ANN QUALITY METRIC itself, graded: recall@20 of the trained
    // two-level IVF against the exact scan, as one integer row. The specs
    // assert recall gates at fixed scale factors; this row makes the
    // driver re-derive the overlap at EVERY graded sf — both engines run
    // both rankings and must agree on the intersection, so a recall
    // regression (bad training, probe mis-selection, a broken rerank)
    // fails correctness, not just a local test.
    "sim_ann_recall" -> ((s, d) => {
      import s.implicits._
      import graft.functions.AnnSearch
      val e = Tables.embeddings(s, d)
      val n = Tables.rowCount(s, d, "embeddings")
      val nC = AnnSearch.autoCentroids(n)
      val nG = AnnSearch.autoCoarse(nC)
      val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
      val exact = AnnSearch.cosineTopK(e.filter($"vec_id" =!= 0), q, 20)
        .select($"vec_id")
      val approx = AnnSearch
        .ivfTopK(e, q, 20, nCentroids = nC, nProbe = math.max(2, nC / 8),
          nCoarse = nG, trainN = AnnSearch.autoTrainN(n, nC),
          gProbe = math.max(2, nG / 4), excludeId = 0L)
        .select($"vec_id")
      exact.join(approx, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(20L).as("k"), $"n_overlap",
          ($"n_overlap" * 5).as("recall_pct"))
    }),

    // Incremental IVF index maintenance, GRADED: the bottom-90% id prefix
    // is the indexed base — centroids trained there and FROZEN — and the
    // top decile is the appended batch, assigned two-level against those
    // frozen centroids only (|batch|·~2·sqrt(nC) pair-dots, never a corpus
    // recompute) and merged into the inverted file. The graded per-list
    // occupancy (total + appended counts) hashes every vector's
    // assignment, so one row grades the base build AND the append path;
    // all sizing derives from the BASE count (an append must not resize
    // the index). AnnSpec separately proves merged ≡ one-pass assignment.
    "sim_ann_ivf_incremental" -> ((s, d) => {
      import graft.functions.AnnSearch
      val e = Tables.embeddings(s, d)
      val baseN = Tables.rowCount(s, d, "embeddings") * 9 / 10
      val nC = AnnSearch.autoCentroids(baseN)
      AnnSearch.ivfAppendLists(e, baseN, nC, AnnSearch.autoCoarse(nC),
        AnnSearch.autoTrainN(baseN, nC))
    }),

    // VERSIONED index serving — reproducible ANN: the index artifact
    // (frozen centroids + the inverted file as a VersionedTable) is built
    // ONCE by the fixture (v0 = the bottom-90% base, v1 = appendCommit of
    // the top decile assigned against the frozen centroids — index
    // maintenance as a log commit). The graded row then (a) SERVES the
    // query from the PINNED v0 snapshot through AnnSearch.ivfServe — the
    // read path alone, no training, no corpus assignment — and the result
    // must equal the from-scratch base-corpus derivation (the oracle
    // recomputes it); and (b) diffs v1 against v0 through the log: the
    // delta must be EXACTLY the appended decile's rows (xor of ids, count,
    // zero removals). Together: a pinned index version answers queries
    // reproducibly forever (training data's "which index built this
    // dataset" question), and maintenance commits touch nothing existing.
    "sim_ann_ivf_versioned" -> ((s, d) => {
      import s.implicits._
      import graft.functions.AnnSearch
      import graft.sources.VersionedTable
      writeAnnVtFixture(s, d)
      val e = Tables.embeddings(s, d)
      val n = Tables.rowCount(s, d, "embeddings")
      val baseN = n * 9 / 10
      val nC = AnnSearch.autoCentroids(baseN)
      val nG = AnnSearch.autoCoarse(nC)
      val inverted = s"$annVtRoot/inverted"
      val cent = s.read.parquet(s"$annVtRoot/centroids")
      val vf0 = VersionedTable.read(s, inverted, 0).select($"vec_id", $"cid")
      val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
      val serve = AnnSearch.ivfServe(vf0, cent, e, q, 20,
          nProbe = math.max(2, nC / 8), nCoarse = nG,
          gProbe = math.max(2, nG / 4), excludeId = 0L)
        .select(lit("serve_v0").as("section"), $"vec_id".as("a"),
          round($"cos" * 1000000).cast("long").as("b"))
      val v1 = VersionedTable.read(s, inverted, 1).select($"vec_id", $"cid")
      val diff = v1.exceptAll(vf0)
        .agg(count(lit(1)).as("n_added"),
          expr("bit_xor(vec_id)").as("xor_added"))
        .crossJoin(vf0.exceptAll(v1).agg(count(lit(1)).as("n_removed")))
        .select(lit("diff_v0_v1").as("section"), $"xor_added".as("a"),
          ($"n_added" * 1000000L + $"n_removed").as("b"))
      serve.unionByName(diff).orderBy($"section", $"b".desc, $"a".asc)
    }),

    // J8: Scala UDF surface — integer Chebyshev distance on synthesized
    // coords (exact integer math; the oracle replicates the formula).
    "udf_scalar_demo" -> ((s, d) => {
      import s.implicits._
      val chebyshev = udf((x: Long, y: Long) =>
        math.max(math.abs(x - 50L), math.abs(y - 40L)))
      Tables.customer(s, d)
        .select($"c_custkey",
          ($"c_custkey" % 97).as("x"), ($"c_custkey" % 89).as("y"))
        .withColumn("cheb", chebyshev($"x", $"y"))
        .orderBy("c_custkey")
    }),

    // J9: typed Aggregator UDAF — weighted sum/total in integer cents,
    // plus the exact integer weighted average (truncating division).
    "udaf_aggregator_demo" -> ((s, d) => {
      import s.implicits._
      val pts = Tables.customer(s, d)
        .select($"c_mktsegment".as("seg"),
          ($"c_custkey" % 10 + 1).as("w"),
          round($"c_acctbal" * 100).cast("long").as("cents"))
      pts.as[WPoint]
        .groupByKey(_.seg)
        .agg(WeightedSumAgg.toColumn.name("ws"))
        .toDF("c_mktsegment", "ws")
        .select($"c_mktsegment", $"ws.wsum".as("wsum"), $"ws.wtot".as("wtot"))
        .withColumn("wavg_cents", expr("wsum div wtot"))
        .orderBy("c_mktsegment")
    }),

    // Typed KeyValueGroupedDataset.mapGroups surface — per-group imperative
    // fold over the iterator (count/min/max/range), all order-independent
    // accumulators so the arbitrary group iteration order can't leak into
    // the result. mapGroups is the escape hatch for group logic SQL can't
    // express; here the oracle CAN express it, which is what proves the
    // surface correct. (Trade-off vs Aggregator (J9): mapGroups gets no
    // map-side partial aggregation — the whole group shuffles.)
    "ds_mapgroups_demo" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .select($"c_mktsegment".as("seg"),
          round($"c_acctbal" * 100).cast("long").as("cents"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .mapGroups { (seg, rows) =>
          var n = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
          rows.foreach { case (_, c) =>
            n += 1; if (c < mn) mn = c; if (c > mx) mx = c
          }
          (seg, n, mn, mx, mx - mn)
        }
        .toDF("seg", "n", "min_cents", "max_cents", "range_cents")
        .orderBy("seg")
    })
  )

  private[graft] val annVtRoot = s"${graft.fixtureRoot}/ann_vt"
  private val annVtWrittenFor =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** Builds the persisted, versioned ANN index artifact: frozen centroids
    * (trained on the bottom-90% base, written as a plain parquet — they
    * never change once trained) and the inverted file as a VersionedTable
    * (v0 = base assignment, v1 = appendCommit of the top decile assigned
    * against the FROZEN centroids — the same maintenance contract as
    * sim_ann_ivf_incremental, now as a log commit with time travel). */
  private def writeAnnVtFixture(s: org.apache.spark.sql.SparkSession,
                                d: String): Unit =
    if (annVtWrittenFor.get() != d) annVtWrittenFor.synchronized {
      if (annVtWrittenFor.get() != d) {
        import graft.functions.AnnSearch
        import graft.sources.VersionedTable
        val fs = new org.apache.hadoop.fs.Path(graft.fixtureRoot)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(annVtRoot), true)
        val e = Tables.embeddings(s, d)
        val n = Tables.rowCount(s, d, "embeddings")
        val baseN = n * 9 / 10
        val nC = AnnSearch.autoCentroids(baseN)
        val nG = AnnSearch.autoCoarse(nC)
        val eq = AnnSearch.quantize(e, "vec_id", "embedding")
        val base = eq.filter(col("vec_id") < baseN)
        val cent = AnnSearch.trainCentroids(base, nC,
          AnnSearch.autoTrainN(baseN, nC), "vec_id")
        val (coarse, f2g) = AnnSearch.coarseFine(cent, nG)
        cent.write.mode("overwrite").parquet(s"$annVtRoot/centroids")
        VersionedTable.create(s, s"$annVtRoot/inverted",
          AnnSearch.assignTwoLevel(base, coarse, f2g, "vec_id")
            .withColumn("pcid", col("cid").cast("string")),
          "pcid", ts = Some(1000L))
        VersionedTable.appendCommit(s, s"$annVtRoot/inverted",
          AnnSearch.assignTwoLevel(eq.filter(col("vec_id") >= baseN),
            coarse, f2g, "vec_id")
            .withColumn("pcid", col("cid").cast("string")),
          "pcid", ts = Some(2000L))
        cent.unpersist()
        annVtWrittenFor.set(d)
      }
    }

  val oracleSql: Map[String, String] = Map(
    // Replicates AnnSearch end-to-end: ±1 weights from md5("42:t:b:i")
    // first-nibble parity; bit b of bucket t set iff the left-fold dot of
    // (vector, plane) is >= 0; candidates share any of the 12 bucket ids
    // with the query vector; exact cosine rerank picks top-20 by the RAW
    // double (same fold order both engines), output re-sorted by cos_e6.
    // The hash width nb replicates AnnSearch.autoBits: 5 + the number of
    // integer thresholds 16·2^(b-1) the corpus COUNT(*) exceeds — pure
    // integer comparisons, so both engines derive the same width.
    "sim_ann_lsh" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |p AS (
        |  SELECT CAST(5 + COUNT(*) AS INT) AS nb FROM range(6, 17) r(b)
        |  WHERE (SELECT COUNT(*) FROM embeddings) > 16 * (1 << (b - 1))),
        |w AS (
        |  SELECT t, b, list_transform(range(0, 64), i ->
        |    CASE WHEN CAST(('0x' || substring(md5('42:' || CAST(t AS VARCHAR) || ':'
        |        || CAST(b AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)) AS INT) % 2 = 0
        |      THEN 1.0 ELSE -1.0 END) AS wv
        |  FROM range(0, 12) r1(t), range(0, 16) r2(b), p WHERE b < p.nb),
        |bits AS (
        |  SELECT e.vec_id, w.t,
        |    CAST(SUM(CASE WHEN list_reduce(
        |        list_transform(list_zip(e.v, w.wv), z -> z[1] * z[2]), (x, y) -> x + y) >= 0
        |      THEN 1 << w.b ELSE 0 END) AS BIGINT) AS bucket
        |  FROM e CROSS JOIN w GROUP BY e.vec_id, w.t),
        |cand AS (
        |  SELECT DISTINCT d.vec_id
        |  FROM bits d JOIN bits q ON d.t = q.t AND d.bucket = q.bucket
        |  WHERE q.vec_id = 0 AND d.vec_id <> 0),
        |rerank AS (
        |  SELECT a.vec_id,
        |    list_reduce(list_transform(list_zip(a.v, q.v), z -> z[1] * z[2]), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_transform(q.v, x -> x * x), (x, y) -> x + y))) AS c
        |  FROM cand JOIN e a ON a.vec_id = cand.vec_id
        |  CROSS JOIN (SELECT v FROM e WHERE vec_id = 0) q
        |  ORDER BY c DESC, a.vec_id ASC LIMIT 20)
        |SELECT vec_id, CAST(round(c * 1000000) AS BIGINT) AS cos_e6
        |FROM rerank ORDER BY cos_e6 DESC, vec_id ASC""".stripMargin,
    // Same derivation as sim_ann_lsh (md5-parity planes, left-fold dots,
    // integer-threshold width) over 4 tables, with the candidate join
    // against the query's bucket AND its nb single-bit XOR flips.
    "sim_ann_lsh_multiprobe" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |p AS (
        |  SELECT CAST(5 + COUNT(*) AS INT) AS nb FROM range(6, 17) r(b)
        |  WHERE (SELECT COUNT(*) FROM embeddings) > 16 * (1 << (b - 1))),
        |w AS (
        |  SELECT t, b, list_transform(range(0, 64), i ->
        |    CASE WHEN CAST(('0x' || substring(md5('42:' || CAST(t AS VARCHAR) || ':'
        |        || CAST(b AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)) AS INT) % 2 = 0
        |      THEN 1.0 ELSE -1.0 END) AS wv
        |  FROM range(0, 4) r1(t), range(0, 16) r2(b), p WHERE b < p.nb),
        |bits AS (
        |  SELECT e.vec_id, w.t,
        |    CAST(SUM(CASE WHEN list_reduce(
        |        list_transform(list_zip(e.v, w.wv), z -> z[1] * z[2]), (x, y) -> x + y) >= 0
        |      THEN 1 << w.b ELSE 0 END) AS BIGINT) AS bucket
        |  FROM e CROSS JOIN w GROUP BY e.vec_id, w.t),
        |probes AS (
        |  SELECT t, bucket FROM bits WHERE vec_id = 0
        |  UNION ALL
        |  SELECT b.t, xor(b.bucket, CAST(1 << j.j AS BIGINT)) AS bucket
        |  FROM bits b, range(0, 16) j(j), p
        |  WHERE b.vec_id = 0 AND j.j < p.nb),
        |cand AS (
        |  SELECT DISTINCT d.vec_id
        |  FROM bits d JOIN probes q ON d.t = q.t AND d.bucket = q.bucket
        |  WHERE d.vec_id <> 0),
        |rerank AS (
        |  SELECT a.vec_id,
        |    list_reduce(list_transform(list_zip(a.v, q.v), z -> z[1] * z[2]), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_transform(q.v, x -> x * x), (x, y) -> x + y))) AS c
        |  FROM cand JOIN e a ON a.vec_id = cand.vec_id
        |  CROSS JOIN (SELECT v FROM e WHERE vec_id = 0) q
        |  ORDER BY c DESC, a.vec_id ASC LIMIT 20)
        |SELECT vec_id, CAST(round(c * 1000000) AS BIGINT) AS cos_e6
        |FROM rerank ORDER BY cos_e6 DESC, vec_id ASC""".stripMargin,
    // Replicates the trained two-level ivfTopK end-to-end: identical
    // integer parameter derivation from COUNT(*) (nc = clamp(ceil(sqrt n),
    // 8, 4096); ng = clamp(ceil(sqrt nc), 4, 64); tn = min(n, 32·nc);
    // np = max(2, nc//8); gp = max(2, ng//4)), identical round(x·1e4)
    // quantization, one Lloyd round (L2 argmin via the 2·dot−‖c‖² score,
    // id-ascending tie-break; truncating per-dim mean = floor of an exact
    // integer-in-double quotient), identical coarse pick / two-level
    // assignment / probe selection, identical raw-double cosine rerank.
    // Every score is exact integer arithmetic, so the engines agree
    // bit-for-bit at every scale factor.
    "sim_ann_ivf" ->
      """WITH p0 AS (SELECT COUNT(*) AS n FROM embeddings),
        |p1 AS (SELECT n,
        |  CAST(GREATEST(8, LEAST(4096, CEIL(SQRT(n)))) AS BIGINT) AS nc FROM p0),
        |p AS (SELECT n, nc,
        |  CAST(GREATEST(4, LEAST(64, CEIL(SQRT(nc)))) AS BIGINT) AS ng,
        |  LEAST(n, 32 * nc) AS tn,
        |  GREATEST(2, nc // 8) AS np,
        |  GREATEST(2, CAST(GREATEST(4, LEAST(64, CEIL(SQRT(nc)))) AS BIGINT) // 4) AS gp
        |  FROM p1),
        |e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000)) AS q
        |  FROM embeddings),
        |seeds AS (
        |  SELECT vec_id AS cid, q AS cv,
        |    list_reduce(list_transform(q, x -> x * x), (a, b) -> a + b) AS cn2
        |  FROM e, p WHERE vec_id < p.nc),
        |ta AS (
        |  SELECT cid, q FROM (
        |    SELECT s.cid, t.q, row_number() OVER (PARTITION BY t.vec_id ORDER BY
        |      2 * list_reduce(list_transform(list_zip(t.q, s.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |        - s.cn2 DESC, s.cid ASC) AS rn
        |    FROM e t CROSS JOIN seeds s, p WHERE t.vec_id < p.tn) x
        |  WHERE rn = 1),
        |cent AS (
        |  SELECT cid, list(cx ORDER BY pos) AS cv FROM (
        |    SELECT cid, pos, floor(SUM(x) / COUNT(*)) AS cx FROM (
        |      SELECT cid, generate_subscripts(q, 1) - 1 AS pos, unnest(q) AS x
        |      FROM ta) d
        |    GROUP BY cid, pos) y
        |  GROUP BY cid),
        |centn AS (
        |  SELECT cid, cv,
        |    list_reduce(list_transform(cv, x -> x * x), (a, b) -> a + b) AS cn2
        |  FROM cent),
        |coarse AS (
        |  SELECT cid AS gid, cv AS gv, cn2 AS gn2 FROM (
        |    SELECT *, row_number() OVER (ORDER BY cid) AS rn FROM centn) z, p
        |  WHERE rn <= p.ng),
        |f2g AS (
        |  SELECT cid, cv, cn2, gid FROM (
        |    SELECT c.cid, c.cv, c.cn2, g.gid,
        |      row_number() OVER (PARTITION BY c.cid ORDER BY
        |        2 * list_reduce(list_transform(list_zip(c.cv, g.gv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM centn c CROSS JOIN coarse g) x
        |  WHERE rn = 1),
        |vg AS (
        |  SELECT vec_id, q, gid FROM (
        |    SELECT e.vec_id, e.q, g.gid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        2 * list_reduce(list_transform(list_zip(e.q, g.gv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM e CROSS JOIN coarse g) x
        |  WHERE rn = 1),
        |vf AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT v.vec_id, f.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        2 * list_reduce(list_transform(list_zip(v.q, f.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - f.cn2 DESC, f.cid ASC) AS rn
        |    FROM vg v JOIN f2g f ON v.gid = f.gid) x
        |  WHERE rn = 1),
        |qq AS (SELECT q, v AS qv FROM e WHERE vec_id = 0),
        |qg AS (
        |  SELECT gid FROM (
        |    SELECT g.gid, row_number() OVER (ORDER BY
        |      2 * list_reduce(list_transform(list_zip(qq.q, g.gv), z -> z[1] * z[2]), (a, b) -> a + b)
        |        - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM coarse g, qq) x, p
        |  WHERE rn <= p.gp),
        |probe AS (
        |  SELECT cid FROM (
        |    SELECT f.cid, row_number() OVER (ORDER BY
        |      2 * list_reduce(list_transform(list_zip(qq.q, f.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |        - f.cn2 DESC, f.cid ASC) AS rn
        |    FROM f2g f JOIN qg ON f.gid = qg.gid, qq) x, p
        |  WHERE rn <= p.np),
        |rerank AS (
        |  SELECT a.vec_id,
        |    list_reduce(list_transform(list_zip(a.v, qq.qv), z -> z[1] * z[2]), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_transform(qq.qv, x -> x * x), (x, y) -> x + y))) AS c
        |  FROM vf
        |  JOIN probe pr ON vf.cid = pr.cid
        |  JOIN e a ON a.vec_id = vf.vec_id, qq
        |  WHERE a.vec_id <> 0
        |  ORDER BY c DESC, a.vec_id ASC LIMIT 20)
        |SELECT vec_id, CAST(round(c * 1000000) AS BIGINT) AS cos_e6
        |FROM rerank ORDER BY cos_e6 DESC, vec_id ASC""".stripMargin,
    // sim_ann_ivf's full derivation at BASE sizing (n → 90% of the
    // corpus, vectors restricted to the base prefix): serving from the
    // pinned v0 index must reproduce exactly the from-scratch base
    // build's answer. The diff section is declarative: an appendCommit's
    // delta is the decile's rows and nothing else (xor/count over
    // [baseN, n), zero removals).
    "sim_ann_ivf_versioned" ->
      """WITH p0 AS (SELECT COUNT(*) * 9 // 10 AS n FROM embeddings),
        |p1 AS (SELECT n,
        |  CAST(GREATEST(8, LEAST(4096, CEIL(SQRT(n)))) AS BIGINT) AS nc FROM p0),
        |p AS (SELECT n, nc,
        |  CAST(GREATEST(4, LEAST(64, CEIL(SQRT(nc)))) AS BIGINT) AS ng,
        |  LEAST(n, 32 * nc) AS tn,
        |  GREATEST(2, nc // 8) AS np,
        |  GREATEST(2, CAST(GREATEST(4, LEAST(64, CEIL(SQRT(nc)))) AS BIGINT) // 4) AS gp
        |  FROM p1),
        |e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000)) AS q
        |  FROM embeddings, p0 WHERE vec_id < p0.n),
        |seeds AS (
        |  SELECT vec_id AS cid, q AS cv,
        |    list_reduce(list_transform(q, x -> x * x), (a, b) -> a + b) AS cn2
        |  FROM e, p WHERE vec_id < p.nc),
        |ta AS (
        |  SELECT cid, q FROM (
        |    SELECT s.cid, t.q, row_number() OVER (PARTITION BY t.vec_id ORDER BY
        |      2 * list_reduce(list_transform(list_zip(t.q, s.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |        - s.cn2 DESC, s.cid ASC) AS rn
        |    FROM e t CROSS JOIN seeds s, p WHERE t.vec_id < p.tn) x
        |  WHERE rn = 1),
        |cent AS (
        |  SELECT cid, list(cx ORDER BY pos) AS cv FROM (
        |    SELECT cid, pos, floor(SUM(x) / COUNT(*)) AS cx FROM (
        |      SELECT cid, generate_subscripts(q, 1) - 1 AS pos, unnest(q) AS x
        |      FROM ta) d
        |    GROUP BY cid, pos) y
        |  GROUP BY cid),
        |centn AS (
        |  SELECT cid, cv,
        |    list_reduce(list_transform(cv, x -> x * x), (a, b) -> a + b) AS cn2
        |  FROM cent),
        |coarse AS (
        |  SELECT cid AS gid, cv AS gv, cn2 AS gn2 FROM (
        |    SELECT *, row_number() OVER (ORDER BY cid) AS rn FROM centn) z, p
        |  WHERE rn <= p.ng),
        |f2g AS (
        |  SELECT cid, cv, cn2, gid FROM (
        |    SELECT c.cid, c.cv, c.cn2, g.gid,
        |      row_number() OVER (PARTITION BY c.cid ORDER BY
        |        2 * list_reduce(list_transform(list_zip(c.cv, g.gv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM centn c CROSS JOIN coarse g) x
        |  WHERE rn = 1),
        |vg AS (
        |  SELECT vec_id, q, gid FROM (
        |    SELECT e.vec_id, e.q, g.gid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        2 * list_reduce(list_transform(list_zip(e.q, g.gv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM e CROSS JOIN coarse g) x
        |  WHERE rn = 1),
        |vf AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT v.vec_id, f.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        2 * list_reduce(list_transform(list_zip(v.q, f.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - f.cn2 DESC, f.cid ASC) AS rn
        |    FROM vg v JOIN f2g f ON v.gid = f.gid) x
        |  WHERE rn = 1),
        |qq AS (SELECT q, v AS qv FROM e WHERE vec_id = 0),
        |qg AS (
        |  SELECT gid FROM (
        |    SELECT g.gid, row_number() OVER (ORDER BY
        |      2 * list_reduce(list_transform(list_zip(qq.q, g.gv), z -> z[1] * z[2]), (a, b) -> a + b)
        |        - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM coarse g, qq) x, p
        |  WHERE rn <= p.gp),
        |probe AS (
        |  SELECT cid FROM (
        |    SELECT f.cid, row_number() OVER (ORDER BY
        |      2 * list_reduce(list_transform(list_zip(qq.q, f.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |        - f.cn2 DESC, f.cid ASC) AS rn
        |    FROM f2g f JOIN qg ON f.gid = qg.gid, qq) x, p
        |  WHERE rn <= p.np),
        |rerank AS (
        |  SELECT a.vec_id,
        |    list_reduce(list_transform(list_zip(a.v, qq.qv), z -> z[1] * z[2]), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_transform(qq.qv, x -> x * x), (x, y) -> x + y))) AS c
        |  FROM vf
        |  JOIN probe pr ON vf.cid = pr.cid
        |  JOIN e a ON a.vec_id = vf.vec_id, qq
        |  WHERE a.vec_id <> 0
        |  ORDER BY c DESC, a.vec_id ASC LIMIT 20),
        |sel AS (
        |  SELECT 'serve_v0' AS section, vec_id AS a,
        |    CAST(round(c * 1000000) AS BIGINT) AS b
        |  FROM rerank),
        |diff AS (
        |  SELECT 'diff_v0_v1' AS section, bit_xor(vec_id) AS a,
        |    CAST(COUNT(*) * 1000000 AS BIGINT) AS b
        |  FROM embeddings, p0 WHERE vec_id >= p0.n)
        |SELECT section, a, b FROM (
        |  SELECT * FROM sel UNION ALL SELECT * FROM diff) u
        |ORDER BY section, b DESC, a ASC""".stripMargin,
    // sim_ann_ivf's derivation with a (qid) dimension threaded through
    // the probe selection and rerank: qq holds the 4-query batch, every
    // probe/rank window partitions by qid, and the final rank runs on
    // the rounded e6 cosine so per-query order is integer-exact.
    "sim_ann_ivf_batch" ->
      """WITH p0 AS (SELECT COUNT(*) AS n FROM embeddings),
        |p1 AS (SELECT n,
        |  CAST(GREATEST(8, LEAST(4096, CEIL(SQRT(n)))) AS BIGINT) AS nc FROM p0),
        |p AS (SELECT n, nc,
        |  CAST(GREATEST(4, LEAST(64, CEIL(SQRT(nc)))) AS BIGINT) AS ng,
        |  LEAST(n, 32 * nc) AS tn,
        |  GREATEST(2, nc // 8) AS np,
        |  GREATEST(2, CAST(GREATEST(4, LEAST(64, CEIL(SQRT(nc)))) AS BIGINT) // 4) AS gp
        |  FROM p1),
        |e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000)) AS q
        |  FROM embeddings),
        |seeds AS (
        |  SELECT vec_id AS cid, q AS cv,
        |    list_reduce(list_transform(q, x -> x * x), (a, b) -> a + b) AS cn2
        |  FROM e, p WHERE vec_id < p.nc),
        |ta AS (
        |  SELECT cid, q FROM (
        |    SELECT s.cid, t.q, row_number() OVER (PARTITION BY t.vec_id ORDER BY
        |      2 * list_reduce(list_transform(list_zip(t.q, s.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |        - s.cn2 DESC, s.cid ASC) AS rn
        |    FROM e t CROSS JOIN seeds s, p WHERE t.vec_id < p.tn) x
        |  WHERE rn = 1),
        |cent AS (
        |  SELECT cid, list(cx ORDER BY pos) AS cv FROM (
        |    SELECT cid, pos, floor(SUM(x) / COUNT(*)) AS cx FROM (
        |      SELECT cid, generate_subscripts(q, 1) - 1 AS pos, unnest(q) AS x
        |      FROM ta) d
        |    GROUP BY cid, pos) y
        |  GROUP BY cid),
        |centn AS (
        |  SELECT cid, cv,
        |    list_reduce(list_transform(cv, x -> x * x), (a, b) -> a + b) AS cn2
        |  FROM cent),
        |coarse AS (
        |  SELECT cid AS gid, cv AS gv, cn2 AS gn2 FROM (
        |    SELECT *, row_number() OVER (ORDER BY cid) AS rn FROM centn) z, p
        |  WHERE rn <= p.ng),
        |f2g AS (
        |  SELECT cid, cv, cn2, gid FROM (
        |    SELECT c.cid, c.cv, c.cn2, g.gid,
        |      row_number() OVER (PARTITION BY c.cid ORDER BY
        |        2 * list_reduce(list_transform(list_zip(c.cv, g.gv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM centn c CROSS JOIN coarse g) x
        |  WHERE rn = 1),
        |vg AS (
        |  SELECT vec_id, q, gid FROM (
        |    SELECT e.vec_id, e.q, g.gid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        2 * list_reduce(list_transform(list_zip(e.q, g.gv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM e CROSS JOIN coarse g) x
        |  WHERE rn = 1),
        |vf AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT v.vec_id, f.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        2 * list_reduce(list_transform(list_zip(v.q, f.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - f.cn2 DESC, f.cid ASC) AS rn
        |    FROM vg v JOIN f2g f ON v.gid = f.gid) x
        |  WHERE rn = 1),
        |qq AS (SELECT vec_id AS qid, q, v AS qv FROM e WHERE vec_id < 4),
        |qg AS (
        |  SELECT qid, gid FROM (
        |    SELECT qq.qid, g.gid, row_number() OVER (PARTITION BY qq.qid ORDER BY
        |      2 * list_reduce(list_transform(list_zip(qq.q, g.gv), z -> z[1] * z[2]), (a, b) -> a + b)
        |        - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM coarse g CROSS JOIN qq) x, p
        |  WHERE rn <= p.gp),
        |probe AS (
        |  SELECT qid, cid FROM (
        |    SELECT qg.qid, f.cid, row_number() OVER (PARTITION BY qg.qid ORDER BY
        |      2 * list_reduce(list_transform(list_zip(qq.q, f.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |        - f.cn2 DESC, f.cid ASC) AS rn
        |    FROM f2g f JOIN qg ON f.gid = qg.gid JOIN qq ON qq.qid = qg.qid) x, p
        |  WHERE rn <= p.np),
        |rer AS (
        |  SELECT pr.qid, a.vec_id,
        |    CAST(round(
        |      list_reduce(list_transform(list_zip(a.v, qq.qv), z -> z[1] * z[2]), (x, y) -> x + y)
        |      / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |         * sqrt(list_reduce(list_transform(qq.qv, x -> x * x), (x, y) -> x + y)))
        |      * 1000000) AS BIGINT) AS cos_e6
        |  FROM vf
        |  JOIN probe pr ON vf.cid = pr.cid
        |  JOIN e a ON a.vec_id = vf.vec_id
        |  JOIN qq ON qq.qid = pr.qid
        |  WHERE a.vec_id <> pr.qid),
        |ranked AS (
        |  SELECT qid, vec_id, cos_e6,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos_e6 DESC, vec_id ASC)
        |      AS rank
        |  FROM rer)
        |SELECT qid, rank, vec_id, cos_e6 FROM ranked
        |WHERE rank <= 20 ORDER BY qid, rank""".stripMargin,
    // sim_ann_ivf's derivation with the widened probe budget
    // (np = max(8, nc//2), gp = max(4, ng//2)) and the label-7 metadata
    // predicate applied to candidates before the rerank — otherwise
    // byte-identical training/assignment, so the engines agree exactly.
    "sim_ann_ivf_filtered" ->
      """WITH p0 AS (SELECT COUNT(*) AS n FROM embeddings),
        |p1 AS (SELECT n,
        |  CAST(GREATEST(8, LEAST(4096, CEIL(SQRT(n)))) AS BIGINT) AS nc FROM p0),
        |p AS (SELECT n, nc,
        |  CAST(GREATEST(4, LEAST(64, CEIL(SQRT(nc)))) AS BIGINT) AS ng,
        |  LEAST(n, 32 * nc) AS tn,
        |  GREATEST(8, nc // 2) AS np,
        |  GREATEST(4, CAST(GREATEST(4, LEAST(64, CEIL(SQRT(nc)))) AS BIGINT) // 2) AS gp
        |  FROM p1),
        |e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000)) AS q
        |  FROM embeddings),
        |seeds AS (
        |  SELECT vec_id AS cid, q AS cv,
        |    list_reduce(list_transform(q, x -> x * x), (a, b) -> a + b) AS cn2
        |  FROM e, p WHERE vec_id < p.nc),
        |ta AS (
        |  SELECT cid, q FROM (
        |    SELECT s.cid, t.q, row_number() OVER (PARTITION BY t.vec_id ORDER BY
        |      2 * list_reduce(list_transform(list_zip(t.q, s.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |        - s.cn2 DESC, s.cid ASC) AS rn
        |    FROM e t CROSS JOIN seeds s, p WHERE t.vec_id < p.tn) x
        |  WHERE rn = 1),
        |cent AS (
        |  SELECT cid, list(cx ORDER BY pos) AS cv FROM (
        |    SELECT cid, pos, floor(SUM(x) / COUNT(*)) AS cx FROM (
        |      SELECT cid, generate_subscripts(q, 1) - 1 AS pos, unnest(q) AS x
        |      FROM ta) d
        |    GROUP BY cid, pos) y
        |  GROUP BY cid),
        |centn AS (
        |  SELECT cid, cv,
        |    list_reduce(list_transform(cv, x -> x * x), (a, b) -> a + b) AS cn2
        |  FROM cent),
        |coarse AS (
        |  SELECT cid AS gid, cv AS gv, cn2 AS gn2 FROM (
        |    SELECT *, row_number() OVER (ORDER BY cid) AS rn FROM centn) z, p
        |  WHERE rn <= p.ng),
        |f2g AS (
        |  SELECT cid, cv, cn2, gid FROM (
        |    SELECT c.cid, c.cv, c.cn2, g.gid,
        |      row_number() OVER (PARTITION BY c.cid ORDER BY
        |        2 * list_reduce(list_transform(list_zip(c.cv, g.gv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM centn c CROSS JOIN coarse g) x
        |  WHERE rn = 1),
        |vg AS (
        |  SELECT vec_id, q, gid FROM (
        |    SELECT e.vec_id, e.q, g.gid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        2 * list_reduce(list_transform(list_zip(e.q, g.gv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM e CROSS JOIN coarse g) x
        |  WHERE rn = 1),
        |vf AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT v.vec_id, f.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        2 * list_reduce(list_transform(list_zip(v.q, f.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - f.cn2 DESC, f.cid ASC) AS rn
        |    FROM vg v JOIN f2g f ON v.gid = f.gid) x
        |  WHERE rn = 1),
        |qq AS (SELECT q, v AS qv FROM e WHERE vec_id = 0),
        |qg AS (
        |  SELECT gid FROM (
        |    SELECT g.gid, row_number() OVER (ORDER BY
        |      2 * list_reduce(list_transform(list_zip(qq.q, g.gv), z -> z[1] * z[2]), (a, b) -> a + b)
        |        - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM coarse g, qq) x, p
        |  WHERE rn <= p.gp),
        |probe AS (
        |  SELECT cid FROM (
        |    SELECT f.cid, row_number() OVER (ORDER BY
        |      2 * list_reduce(list_transform(list_zip(qq.q, f.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |        - f.cn2 DESC, f.cid ASC) AS rn
        |    FROM f2g f JOIN qg ON f.gid = qg.gid, qq) x, p
        |  WHERE rn <= p.np),
        |rerank AS (
        |  SELECT a.vec_id,
        |    list_reduce(list_transform(list_zip(a.v, qq.qv), z -> z[1] * z[2]), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_transform(qq.qv, x -> x * x), (x, y) -> x + y))) AS c
        |  FROM vf
        |  JOIN probe pr ON vf.cid = pr.cid
        |  JOIN e a ON a.vec_id = vf.vec_id, qq
        |  WHERE a.vec_id <> 0
        |    AND a.vec_id IN (SELECT vec_id FROM embeddings WHERE label = 7)
        |  ORDER BY c DESC, a.vec_id ASC LIMIT 20)
        |SELECT vec_id, CAST(round(c * 1000000) AS BIGINT) AS cos_e6
        |FROM rerank ORDER BY cos_e6 DESC, vec_id ASC""".stripMargin,
    // The sim_ann_ivf chain through its rerank top-20, plus the exact
    // top-20, reduced to the integer overlap — the recall metric both
    // engines must derive identically.
    "sim_ann_recall" ->
      """WITH p0 AS (SELECT COUNT(*) AS n FROM embeddings),
        |p1 AS (SELECT n,
        |  CAST(GREATEST(8, LEAST(4096, CEIL(SQRT(n)))) AS BIGINT) AS nc FROM p0),
        |p AS (SELECT n, nc,
        |  CAST(GREATEST(4, LEAST(64, CEIL(SQRT(nc)))) AS BIGINT) AS ng,
        |  LEAST(n, 32 * nc) AS tn,
        |  GREATEST(2, nc // 8) AS np,
        |  GREATEST(2, CAST(GREATEST(4, LEAST(64, CEIL(SQRT(nc)))) AS BIGINT) // 4) AS gp
        |  FROM p1),
        |e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000)) AS q
        |  FROM embeddings),
        |seeds AS (
        |  SELECT vec_id AS cid, q AS cv,
        |    list_reduce(list_transform(q, x -> x * x), (x, y) -> x + y) AS cn2
        |  FROM e, p WHERE vec_id < p.nc),
        |ta AS (
        |  SELECT cid, q FROM (
        |    SELECT s.cid, t.q, row_number() OVER (PARTITION BY t.vec_id ORDER BY
        |      2 * list_reduce(list_transform(list_zip(t.q, s.cv), z -> z[1] * z[2]), (x, y) -> x + y)
        |        - s.cn2 DESC, s.cid ASC) AS rn
        |    FROM e t CROSS JOIN seeds s, p WHERE t.vec_id < p.tn) x
        |  WHERE rn = 1),
        |cent AS (
        |  SELECT cid, list(cx ORDER BY pos) AS cv FROM (
        |    SELECT cid, pos, floor(SUM(x) / COUNT(*)) AS cx FROM (
        |      SELECT cid, generate_subscripts(q, 1) - 1 AS pos, unnest(q) AS x
        |      FROM ta) d
        |    GROUP BY cid, pos) y
        |  GROUP BY cid),
        |centn AS (
        |  SELECT cid, cv,
        |    list_reduce(list_transform(cv, x -> x * x), (x, y) -> x + y) AS cn2
        |  FROM cent),
        |coarse AS (
        |  SELECT cid AS gid, cv AS gv, cn2 AS gn2 FROM (
        |    SELECT *, row_number() OVER (ORDER BY cid) AS rn FROM centn) z, p
        |  WHERE rn <= p.ng),
        |f2g AS (
        |  SELECT cid, cv, cn2, gid FROM (
        |    SELECT c.cid, c.cv, c.cn2, g.gid,
        |      row_number() OVER (PARTITION BY c.cid ORDER BY
        |        2 * list_reduce(list_transform(list_zip(c.cv, g.gv), z -> z[1] * z[2]), (x, y) -> x + y)
        |          - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM centn c CROSS JOIN coarse g) x
        |  WHERE rn = 1),
        |vg AS (
        |  SELECT vec_id, q, gid FROM (
        |    SELECT e.vec_id, e.q, g.gid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        2 * list_reduce(list_transform(list_zip(e.q, g.gv), z -> z[1] * z[2]), (x, y) -> x + y)
        |          - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM e CROSS JOIN coarse g) x
        |  WHERE rn = 1),
        |vf AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT v.vec_id, f.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        2 * list_reduce(list_transform(list_zip(v.q, f.cv), z -> z[1] * z[2]), (x, y) -> x + y)
        |          - f.cn2 DESC, f.cid ASC) AS rn
        |    FROM vg v JOIN f2g f ON v.gid = f.gid) x
        |  WHERE rn = 1),
        |qq AS (SELECT q, v AS qv FROM e WHERE vec_id = 0),
        |qg AS (
        |  SELECT gid FROM (
        |    SELECT g.gid, row_number() OVER (ORDER BY
        |      2 * list_reduce(list_transform(list_zip(qq.q, g.gv), z -> z[1] * z[2]), (x, y) -> x + y)
        |        - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM coarse g, qq) x, p
        |  WHERE rn <= p.gp),
        |probe AS (
        |  SELECT cid FROM (
        |    SELECT f.cid, row_number() OVER (ORDER BY
        |      2 * list_reduce(list_transform(list_zip(qq.q, f.cv), z -> z[1] * z[2]), (x, y) -> x + y)
        |        - f.cn2 DESC, f.cid ASC) AS rn
        |    FROM f2g f JOIN qg ON f.gid = qg.gid, qq) x, p
        |  WHERE rn <= p.np),
        |rerank AS (
        |  SELECT a.vec_id,
        |    list_reduce(list_transform(list_zip(a.v, qq.qv), z -> z[1] * z[2]), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_transform(qq.qv, x -> x * x), (x, y) -> x + y))) AS c
        |  FROM vf
        |  JOIN probe pr ON vf.cid = pr.cid
        |  JOIN e a ON a.vec_id = vf.vec_id, qq
        |  WHERE a.vec_id <> 0
        |  ORDER BY c DESC, a.vec_id ASC LIMIT 20),
        |exact AS (
        |  SELECT a.vec_id,
        |    list_reduce(list_transform(list_zip(a.v, qq.qv), z -> z[1] * z[2]), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_transform(qq.qv, x -> x * x), (x, y) -> x + y))) AS c
        |  FROM e a, qq WHERE a.vec_id <> 0
        |  ORDER BY c DESC, a.vec_id ASC LIMIT 20)
        |SELECT CAST(20 AS BIGINT) AS k, COUNT(*) AS n_overlap,
        |  CAST(COUNT(*) * 5 AS BIGINT) AS recall_pct
        |FROM exact JOIN rerank USING (vec_id)""".stripMargin,
    // Extends the sim_ann_ivf chain (identical through vf/qg/probe) with
    // the PQ sections: per-subspace codebook seeds + one Lloyd round
    // (bseed/bta/book), corpus encoding (codes), the query's ADC table
    // (qsub/adc), ADC-ranked top-200 candidates in the probed lists (topr),
    // exact rerank. All integer-exact; lambdas use x/y to avoid shadowing
    // the table aliases.
    "sim_ann_ivf_pq" ->
      """WITH p0 AS (SELECT COUNT(*) AS n FROM embeddings),
        |p1 AS (SELECT n,
        |  CAST(GREATEST(8, LEAST(4096, CEIL(SQRT(n)))) AS BIGINT) AS nc FROM p0),
        |p AS (SELECT n, nc,
        |  CAST(GREATEST(4, LEAST(64, CEIL(SQRT(nc)))) AS BIGINT) AS ng,
        |  LEAST(n, 32 * nc) AS tn,
        |  GREATEST(2, nc // 8) AS np,
        |  GREATEST(2, CAST(GREATEST(4, LEAST(64, CEIL(SQRT(nc)))) AS BIGINT) // 4) AS gp,
        |  CASE WHEN n <= 65536 THEN 16 ELSE 256 END AS ks,
        |  GREATEST(200, n // 128) AS rr
        |  FROM p1),
        |e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000)) AS q
        |  FROM embeddings),
        |seeds AS (
        |  SELECT vec_id AS cid, q AS cv,
        |    list_reduce(list_transform(q, x -> x * x), (x, y) -> x + y) AS cn2
        |  FROM e, p WHERE vec_id < p.nc),
        |ta AS (
        |  SELECT cid, q FROM (
        |    SELECT s.cid, t.q, row_number() OVER (PARTITION BY t.vec_id ORDER BY
        |      2 * list_reduce(list_transform(list_zip(t.q, s.cv), z -> z[1] * z[2]), (x, y) -> x + y)
        |        - s.cn2 DESC, s.cid ASC) AS rn
        |    FROM e t CROSS JOIN seeds s, p WHERE t.vec_id < p.tn) x
        |  WHERE rn = 1),
        |cent AS (
        |  SELECT cid, list(cx ORDER BY pos) AS cv FROM (
        |    SELECT cid, pos, floor(SUM(x) / COUNT(*)) AS cx FROM (
        |      SELECT cid, generate_subscripts(q, 1) - 1 AS pos, unnest(q) AS x
        |      FROM ta) d
        |    GROUP BY cid, pos) y
        |  GROUP BY cid),
        |centn AS (
        |  SELECT cid, cv,
        |    list_reduce(list_transform(cv, x -> x * x), (x, y) -> x + y) AS cn2
        |  FROM cent),
        |coarse AS (
        |  SELECT cid AS gid, cv AS gv, cn2 AS gn2 FROM (
        |    SELECT *, row_number() OVER (ORDER BY cid) AS rn FROM centn) z, p
        |  WHERE rn <= p.ng),
        |f2g AS (
        |  SELECT cid, cv, cn2, gid FROM (
        |    SELECT c.cid, c.cv, c.cn2, g.gid,
        |      row_number() OVER (PARTITION BY c.cid ORDER BY
        |        2 * list_reduce(list_transform(list_zip(c.cv, g.gv), z -> z[1] * z[2]), (x, y) -> x + y)
        |          - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM centn c CROSS JOIN coarse g) x
        |  WHERE rn = 1),
        |vg AS (
        |  SELECT vec_id, q, gid FROM (
        |    SELECT e.vec_id, e.q, g.gid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        2 * list_reduce(list_transform(list_zip(e.q, g.gv), z -> z[1] * z[2]), (x, y) -> x + y)
        |          - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM e CROSS JOIN coarse g) x
        |  WHERE rn = 1),
        |vf AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT v.vec_id, f.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        2 * list_reduce(list_transform(list_zip(v.q, f.cv), z -> z[1] * z[2]), (x, y) -> x + y)
        |          - f.cn2 DESC, f.cid ASC) AS rn
        |    FROM vg v JOIN f2g f ON v.gid = f.gid) x
        |  WHERE rn = 1),
        |qq AS (SELECT q, v AS qv FROM e WHERE vec_id = 0),
        |qg AS (
        |  SELECT gid FROM (
        |    SELECT g.gid, row_number() OVER (ORDER BY
        |      2 * list_reduce(list_transform(list_zip(qq.q, g.gv), z -> z[1] * z[2]), (x, y) -> x + y)
        |        - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM coarse g, qq) x, p
        |  WHERE rn <= p.gp),
        |probe AS (
        |  SELECT cid FROM (
        |    SELECT f.cid, row_number() OVER (ORDER BY
        |      2 * list_reduce(list_transform(list_zip(qq.q, f.cv), z -> z[1] * z[2]), (x, y) -> x + y)
        |        - f.cn2 DESC, f.cid ASC) AS rn
        |    FROM f2g f JOIN qg ON f.gid = qg.gid, qq) x, p
        |  WHERE rn <= p.np),
        |sv AS (
        |  SELECT e.vec_id, r.s AS sub, list_slice(e.q, r.s * 8 + 1, r.s * 8 + 8) AS sv
        |  FROM e, range(0, 8) r(s)),
        |bseed AS (
        |  SELECT sub, vec_id AS code, sv AS cw,
        |    list_reduce(list_transform(sv, x -> x * x), (x, y) -> x + y) AS wn2
        |  FROM sv, p WHERE vec_id < p.ks),
        |bta AS (
        |  SELECT sub, code, sv FROM (
        |    SELECT t.sub, s.code, t.sv, row_number() OVER (PARTITION BY t.vec_id, t.sub ORDER BY
        |      2 * list_reduce(list_transform(list_zip(t.sv, s.cw), z -> z[1] * z[2]), (x, y) -> x + y)
        |        - s.wn2 DESC, s.code ASC) AS rn
        |    FROM sv t JOIN bseed s ON t.sub = s.sub, p WHERE t.vec_id < p.tn) x
        |  WHERE rn = 1),
        |book AS (
        |  SELECT sub, code, list(cx ORDER BY pos) AS cw FROM (
        |    SELECT sub, code, pos, floor(SUM(x) / COUNT(*)) AS cx FROM (
        |      SELECT sub, code, generate_subscripts(sv, 1) - 1 AS pos, unnest(sv) AS x
        |      FROM bta) d
        |    GROUP BY sub, code, pos) y
        |  GROUP BY sub, code),
        |bookn AS (
        |  SELECT sub, code, cw,
        |    list_reduce(list_transform(cw, x -> x * x), (x, y) -> x + y) AS wn2
        |  FROM book),
        |codes AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT v.vec_id, v.sub, b.code, row_number() OVER (PARTITION BY v.vec_id, v.sub ORDER BY
        |      2 * list_reduce(list_transform(list_zip(v.sv, b.cw), z -> z[1] * z[2]), (x, y) -> x + y)
        |        - b.wn2 DESC, b.code ASC) AS rn
        |    FROM sv v JOIN bookn b ON v.sub = b.sub) x
        |  WHERE rn = 1),
        |qsub AS (SELECT sub, sv AS qs FROM sv WHERE vec_id = 0),
        |adc AS (
        |  SELECT b.sub, b.code,
        |    2 * list_reduce(list_transform(list_zip(u.qs, b.cw), z -> z[1] * z[2]), (x, y) -> x + y)
        |      - b.wn2 AS s
        |  FROM bookn b JOIN qsub u ON b.sub = u.sub),
        |topr AS (
        |  SELECT vec_id FROM (
        |    SELECT c.vec_id,
        |      row_number() OVER (ORDER BY SUM(a.s) DESC, c.vec_id ASC) AS rn
        |    FROM codes c
        |    JOIN vf ON vf.vec_id = c.vec_id
        |    JOIN probe pr ON vf.cid = pr.cid
        |    JOIN adc a ON a.sub = c.sub AND a.code = c.code
        |    WHERE c.vec_id <> 0
        |    GROUP BY c.vec_id) x, p
        |  WHERE rn <= p.rr),
        |rerank AS (
        |  SELECT a.vec_id,
        |    list_reduce(list_transform(list_zip(a.v, qq.qv), z -> z[1] * z[2]), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_transform(qq.qv, x -> x * x), (x, y) -> x + y))) AS c
        |  FROM topr
        |  JOIN e a ON a.vec_id = topr.vec_id, qq
        |  ORDER BY c DESC, a.vec_id ASC LIMIT 20)
        |SELECT vec_id, CAST(round(c * 1000000) AS BIGINT) AS cos_e6
        |FROM rerank ORDER BY cos_e6 DESC, vec_id ASC""".stripMargin,
    // Same training/coarse/assignment CTE chain as sim_ann_ivf, but every
    // size derives from the BASE count (bottom-90% prefix) — the frozen
    // index an append must not resize — and the output is per-list
    // occupancy over all vectors instead of a probe's top-k.
    "sim_ann_ivf_incremental" ->
      """WITH p0 AS (SELECT COUNT(*) AS n FROM embeddings),
        |pb AS (SELECT n, n * 9 // 10 AS bn FROM p0),
        |p1 AS (SELECT n, bn,
        |  CAST(GREATEST(8, LEAST(4096, CEIL(SQRT(bn)))) AS BIGINT) AS nc FROM pb),
        |p AS (SELECT n, bn, nc,
        |  CAST(GREATEST(4, LEAST(64, CEIL(SQRT(nc)))) AS BIGINT) AS ng,
        |  LEAST(bn, 32 * nc) AS tn FROM p1),
        |e AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000)) AS q
        |  FROM embeddings),
        |seeds AS (
        |  SELECT vec_id AS cid, q AS cv,
        |    list_reduce(list_transform(q, x -> x * x), (a, b) -> a + b) AS cn2
        |  FROM e, p WHERE vec_id < p.nc),
        |ta AS (
        |  SELECT cid, q FROM (
        |    SELECT s.cid, t.q, row_number() OVER (PARTITION BY t.vec_id ORDER BY
        |      2 * list_reduce(list_transform(list_zip(t.q, s.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |        - s.cn2 DESC, s.cid ASC) AS rn
        |    FROM e t CROSS JOIN seeds s, p WHERE t.vec_id < p.tn) x
        |  WHERE rn = 1),
        |cent AS (
        |  SELECT cid, list(cx ORDER BY pos) AS cv FROM (
        |    SELECT cid, pos, floor(SUM(x) / COUNT(*)) AS cx FROM (
        |      SELECT cid, generate_subscripts(q, 1) - 1 AS pos, unnest(q) AS x
        |      FROM ta) d
        |    GROUP BY cid, pos) y
        |  GROUP BY cid),
        |centn AS (
        |  SELECT cid, cv,
        |    list_reduce(list_transform(cv, x -> x * x), (a, b) -> a + b) AS cn2
        |  FROM cent),
        |coarse AS (
        |  SELECT cid AS gid, cv AS gv, cn2 AS gn2 FROM (
        |    SELECT *, row_number() OVER (ORDER BY cid) AS rn FROM centn) z, p
        |  WHERE rn <= p.ng),
        |f2g AS (
        |  SELECT cid, cv, cn2, gid FROM (
        |    SELECT c.cid, c.cv, c.cn2, g.gid,
        |      row_number() OVER (PARTITION BY c.cid ORDER BY
        |        2 * list_reduce(list_transform(list_zip(c.cv, g.gv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM centn c CROSS JOIN coarse g) x
        |  WHERE rn = 1),
        |vg AS (
        |  SELECT vec_id, q, gid FROM (
        |    SELECT e.vec_id, e.q, g.gid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        2 * list_reduce(list_transform(list_zip(e.q, g.gv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM e CROSS JOIN coarse g) x
        |  WHERE rn = 1),
        |vf AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT v.vec_id, f.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        2 * list_reduce(list_transform(list_zip(v.q, f.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - f.cn2 DESC, f.cid ASC) AS rn
        |    FROM vg v JOIN f2g f ON v.gid = f.gid) x
        |  WHERE rn = 1)
        |SELECT vf.cid, COUNT(*) AS n_vecs,
        |  CAST(SUM(CASE WHEN vf.vec_id >= p.bn THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |FROM vf, p GROUP BY vf.cid ORDER BY vf.cid""".stripMargin,
    "sim_knn_graph" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 200),
        |half AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2,
        |    CAST(round(
        |      list_reduce(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]), (x, y) -> x + y)
        |      / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |         * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y)))
        |      * 1000000) AS BIGINT) AS cos_e6
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
        |sym AS (
        |  SELECT v1, v2, cos_e6 FROM half
        |  UNION ALL SELECT v2 AS v1, v1 AS v2, cos_e6 FROM half),
        |r AS (
        |  SELECT v1, v2, cos_e6, row_number() OVER
        |    (PARTITION BY v1 ORDER BY cos_e6 DESC, v2 ASC) AS rank
        |  FROM sym)
        |SELECT v1 AS vec_id, rank, v2 AS nbr_id, cos_e6 FROM r
        |WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin,
    "sim_cosine_topk" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  CAST(round(
        |    list_reduce(list_transform(list_zip(e.v, q.qv), z -> z[1] * z[2]), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (x, y) -> x + y)))
        |    * 1000000) AS BIGINT) AS cos_e6
        |FROM e, q WHERE e.vec_id <> 0
        |ORDER BY cos_e6 DESC, vec_id ASC LIMIT 20""".stripMargin,
    "sim_pairs_threshold" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 200)
        |SELECT a.vec_id AS v1, b.vec_id AS v2,
        |  CAST(round(
        |    list_reduce(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y)))
        |    * 1000000) AS BIGINT) AS cos_e6
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE CAST(round(
        |    list_reduce(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y)))
        |    * 1000000) AS BIGINT) >= 250000
        |ORDER BY v1 ASC, v2 ASC""".stripMargin,
    "udf_scalar_demo" ->
      """SELECT c_custkey, c_custkey % 97 AS x, c_custkey % 89 AS y,
        |  GREATEST(ABS(c_custkey % 97 - 50), ABS(c_custkey % 89 - 40)) AS cheb
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "udaf_aggregator_demo" ->
      """SELECT c_mktsegment,
        |  CAST(SUM((c_custkey % 10 + 1) * CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS wsum,
        |  CAST(SUM(c_custkey % 10 + 1) AS BIGINT) AS wtot,
        |  CAST(SUM((c_custkey % 10 + 1) * CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    // CAST(SUM(c_custkey % 10 + 1) AS BIGINT) AS wavg_cents
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "ds_mapgroups_demo" ->
      """SELECT c_mktsegment AS seg, COUNT(*) AS n,
        |  MIN(CAST(round(c_acctbal * 100) AS BIGINT)) AS min_cents,
        |  MAX(CAST(round(c_acctbal * 100) AS BIGINT)) AS max_cents,
        |  MAX(CAST(round(c_acctbal * 100) AS BIGINT))
        |    - MIN(CAST(round(c_acctbal * 100) AS BIGINT)) AS range_cents
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
  )
}
