package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** Embedding-vector operators beyond point-query similarity: per-group
  * centroid geometry and storage-side quantization — the two vector
  * transforms a training-data pipeline runs over a whole corpus (cluster
  * structure between label groups; int8 compression before shipping
  * vectors to an index or a trainer).
  *
  * Determinism: float elements are quantized to exact integers FIRST
  * (round(x·1e4) — round-half-away agrees on both engines), so every
  * cross-row sum is order-independent integer math; doubles reappear only
  * in fixed-arity scalar formulas over those exact integers (int64→double
  * is correctly rounded on both engines, and the op sequence is written
  * identically on both sides — rule R2/R7 discipline).
  *
  * Scale: the centroid is an algebraic sketch (per-(group,pos) integer
  * sums merge by addition — map-side partials do most of the work, the
  * shuffle carries one row per (group, dimension)); pairwise cosine then
  * runs over `groups × dims` rows, independent of corpus row count.
  * Quantization is a pure per-row map — no shuffle at all.
  */
object VectorOps extends QueryModule {

  val queries: Map[String, Q] = Map(
    // Cosine similarity between per-label centroid vectors. Centroid
    // DIRECTION equals the direction of the elementwise SUM (cosine is
    // scale-invariant), so no division by count ever happens: per
    // (label, pos) the engine sums round(x·1e4) quanta — exact,
    // associative, mergeable — then dot/norms are int64 sums over the 64
    // dims (safe while n_rows/label · 1e4 < ~3e8, i.e. ≤ ~30k rows per
    // label; beyond that drop the quantum to 1e2 or lift sums to
    // DECIMAL(38,0)). The final cosine is the identical scalar double
    // formula on both engines.
    "vec_centroid_cosine" -> ((s, d) => {
      import s.implicits._
      val comp = Tables.embeddings(s, d)
        .select($"label".cast("long").as("label"), posexplode($"embedding").as(Seq("pos", "x")))
        .select($"label", $"pos",
          round($"x".cast("double") * 10000).cast("long").as("q"))
        .groupBy($"label", $"pos")
        .agg(sum($"q").as("sv"))
      val norms = comp.groupBy($"label").agg(sum($"sv" * $"sv").as("nn"))
      val dots = comp.as("a")
        .join(comp.as("b"),
          col("a.pos") === col("b.pos") && col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("la"), col("b.label").as("lb"))
        .agg(sum(col("a.sv") * col("b.sv")).as("dot"))
      dots
        .join(broadcast(norms.select($"label".as("la"), $"nn".as("nna"))), "la")
        .join(broadcast(norms.select($"label".as("lb"), $"nn".as("nnb"))), "lb")
        .select($"la", $"lb",
          round($"dot" / (sqrt($"nna") * sqrt($"nnb")) * 1000000)
            .cast("long").as("cos_e6"))
        .orderBy("la", "lb")
    }),

    // Symmetric max-abs int8 quantization of each embedding: scale =
    // 127/max|x|, element → floor(x·127/max + 0.5) (explicit round-half-
    // toward-+∞ — floor is exact IEEE on both engines, so no round-tie
    // semantics in the hot path). Emits the quantized ARRAY<BIGINT> and
    // the micro-scaled scale denominator. Pure map: at 100 TB this is a
    // scan-shaped pass that never shuffles.
    "vec_quantize_int8" -> ((s, d) => {
      import s.implicits._
      Tables.embeddings(s, d)
        .filter($"vec_id" < 100)
        .select($"vec_id",
          expr("array_max(transform(embedding, x -> abs(cast(x as double))))").as("ma"),
          $"embedding")
        .select($"vec_id",
          round($"ma" * 1000000).cast("long").as("maxabs_e6"),
          // quantized vector stays an array internally; rule R9a joins it
          // to a STRING at the output boundary (driver can't sort ndarrays)
          expr(
            """array_join(CASE WHEN ma = 0
              |  THEN transform(embedding, x -> cast(0 as bigint))
              |  ELSE transform(embedding,
              |    x -> cast(floor(cast(x as double) * 127.0 / ma + 0.5) as bigint))
              |END, ',')""".stripMargin).as("q8_csv"))
        .orderBy("vec_id")
    }),

    // Random-projection dimensionality reduction (64 → 8 dims): signed
    // sums against deterministic md5-parity ±1 planes, each projection
    // a codegen'd DotFold — scan-shaped, no shuffle, and the projected
    // table is 8× smaller for every downstream distance computation
    // (Johnson–Lindenstrauss preserves pairwise distances within the
    // distortion bound). The oracle rebuilds the identical planes and
    // left-fold dots in SQL.
    // One full Lloyd iteration of k-means (k=4) in exact integers — the
    // training step behind the IVF index (sim_ann_ivf samples centroids;
    // this REFINES them): seed from the 4 lowest vec_ids, assign by exact
    // integer argmin distance (struct-min tie-breaks to the lowest
    // centroid), recompute centroids as truncating per-dimension means,
    // reassign, and report cluster sizes + inertia. Every stage is a
    // hash-agg or a broadcast/equi join on (pos)/(cid,pos) keys — the
    // relational Lloyd shape that scales: assignment cost is
    // vectors × k × dim with NO pairwise vector join, and the centroid
    // update is a mergeable integer sum. Everything is deterministic, so
    // the "ML" step has an exact DuckDB oracle like any other query.
    "ml_kmeans_assign" -> ((s, d) => {
      import s.implicits._
      import graft.functions.AnnSearch.dot
      // Distances via the polarization identity d2 = ‖q‖² + ‖c‖² − 2·q·c
      // over double-cast quanta: every term is an exact integer below 2^53
      // (|quantum| ≤ ~6e4, 64 dims ⇒ d2 ≤ ~9e11), so the BIGINT cast is
      // exact and the values are IDENTICAL to the elementwise (a−b)² fold
      // — the oracle keeps that spelling, and the hash still matches. The
      // win is plan shape: one codegen DotFold per (vector, centroid) pair
      // against 4 broadcast centroid ARRAYS, instead of the r7 form's
      // posexplode → join-on-pos → 51M-row shuffle into an 800k-group
      // aggregate (the whole corpus exploded 64× and reshuffled twice);
      // sf10: 19.5 → ~4 s. Centroid means stay exact integer truncating
      // division; the assembled array is double-cast only for the dot.
      val q = Tables.embeddings(s, d)
        .select($"vec_id", expr(
          "transform(embedding, x -> cast(round(cast(x as double) * 10000) as bigint))")
          .as("qv"))
        .withColumn("qd", expr("transform(qv, x -> cast(x as double))"))
        .withColumn("qn2", dot($"qd", $"qd"))
      val seeds = q.filter($"vec_id" < 4)
        .select($"vec_id".cast("long").as("cid"), $"qd".as("cd"), $"qn2".as("cn2"))
      val a1 = q.crossJoin(broadcast(seeds))
        .select($"vec_id", $"cid",
          ($"qn2" + $"cn2" - lit(2.0) * dot($"qd", $"cd")).cast("long").as("d2"))
        .groupBy($"vec_id")
        .agg(min(struct($"d2", $"cid")).as("m"))
        .select($"vec_id", $"m.cid".as("cid"))
      val c2 = q.join(a1, "vec_id")
        .select($"cid", posexplode($"qv").as(Seq("pos", "qval")))
        .groupBy($"cid", $"pos")
        .agg(expr("sum(qval) div count(1)").as("cval"))
        .groupBy($"cid")
        .agg(expr(
          "transform(array_sort(collect_list(struct(pos, cval))), s -> cast(s.cval as double))")
          .as("cd"))
        .withColumn("cn2", dot($"cd", $"cd"))
      q.crossJoin(broadcast(c2))
        .select($"vec_id", $"cid",
          ($"qn2" + $"cn2" - lit(2.0) * dot($"qd", $"cd")).cast("long").as("d2"))
        .groupBy($"vec_id")
        .agg(min(struct($"d2", $"cid")).as("m"))
        .select($"vec_id", $"m.d2".as("d2"), $"m.cid".as("cid"))
        .groupBy($"cid")
        .agg(count(lit(1)).as("n_vecs"), sum($"d2").as("inertia"))
        .orderBy("cid")
    }),

    "sim_rp_reduce" -> ((s, d) => {
      import s.implicits._
      graft.functions.AnnSearch
        .randomProject(Tables.embeddings(s, d).filter($"vec_id" < 200),
          dim = 64, outDims = 8)
        .select($"vec_id", array_join($"proj_e6", ",").as("proj_e6_csv"))
        .orderBy("vec_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "vec_centroid_cosine" ->
      """WITH ei AS (
        |  SELECT CAST(label AS BIGINT) AS label, embedding AS v,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings),
        |x AS (
        |  SELECT label, pos,
        |    CAST(round(CAST(v[pos] AS DOUBLE) * 10000) AS BIGINT) AS q
        |  FROM ei),
        |comp AS (
        |  SELECT label, pos, CAST(SUM(q) AS BIGINT) AS sv
        |  FROM x GROUP BY label, pos),
        |norms AS (
        |  SELECT label, CAST(SUM(sv * sv) AS BIGINT) AS nn
        |  FROM comp GROUP BY label),
        |dots AS (
        |  SELECT a.label AS la, b.label AS lb, CAST(SUM(a.sv * b.sv) AS BIGINT) AS dot
        |  FROM comp a JOIN comp b ON a.pos = b.pos AND a.label < b.label
        |  GROUP BY a.label, b.label)
        |SELECT la, lb,
        |  CAST(round(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 1000000) AS BIGINT) AS cos_e6
        |FROM dots JOIN norms na ON na.label = la JOIN norms nb ON nb.label = lb
        |ORDER BY la, lb""".stripMargin,
    "ml_kmeans_assign" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |seeds AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < 4),
        |d1 AS (
        |  SELECT q.vec_id, s.cid,
        |    list_reduce(list_transform(list_zip(q.qv, s.cv),
        |      p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS d2
        |  FROM q CROSS JOIN seeds s),
        |a1 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM d1) t
        |  WHERE rn = 1),
        |dims AS (
        |  SELECT a1.cid, generate_subscripts(q.qv, 1) - 1 AS pos,
        |    unnest(q.qv) AS qval
        |  FROM q JOIN a1 USING (vec_id)),
        |c2 AS (
        |  SELECT cid, pos, CAST(SUM(qval) AS BIGINT) // COUNT(*) AS cval
        |  FROM dims GROUP BY cid, pos),
        |vdims AS (
        |  SELECT vec_id, generate_subscripts(qv, 1) - 1 AS pos,
        |    unnest(qv) AS qval
        |  FROM q),
        |d2t AS (
        |  SELECT v.vec_id, c.cid,
        |    CAST(SUM((v.qval - c.cval) * (v.qval - c.cval)) AS BIGINT) AS d2
        |  FROM vdims v JOIN c2 c USING (pos) GROUP BY v.vec_id, c.cid),
        |a2 AS (
        |  SELECT vec_id, cid, d2 FROM (
        |    SELECT vec_id, cid, d2,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM d2t) t
        |  WHERE rn = 1)
        |SELECT cid, COUNT(*) AS n_vecs, CAST(SUM(d2) AS BIGINT) AS inertia
        |FROM a2 GROUP BY cid ORDER BY cid""".stripMargin,
    "sim_rp_reduce" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 200),
        |w AS (
        |  SELECT t, list_transform(range(0, 64), i ->
        |    CASE WHEN CAST(('0x' || substring(md5('42:' || CAST(t AS VARCHAR)
        |        || ':7:' || CAST(i AS VARCHAR)), 1, 1)) AS INT) % 2 = 0
        |      THEN 1.0 ELSE -1.0 END) AS wv
        |  FROM range(0, 8) r1(t)),
        |p AS (
        |  SELECT e.vec_id, w.t,
        |    CAST(round(list_reduce(list_transform(list_zip(e.v, w.wv),
        |      q -> q[1] * q[2]), (x, y) -> x + y) * 1000000) AS BIGINT) AS y
        |  FROM e CROSS JOIN w)
        |SELECT vec_id, array_to_string(list(y ORDER BY t), ',') AS proj_e6_csv
        |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "vec_quantize_int8" ->
      """WITH m AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |  FROM embeddings WHERE vec_id < 100)
        |SELECT vec_id,
        |  CAST(round(ma * 1000000) AS BIGINT) AS maxabs_e6,
        |  array_to_string(CASE WHEN ma = 0
        |    THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |    ELSE list_transform(v, x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT))
        |  END, ',') AS q8_csv
        |FROM m ORDER BY vec_id""".stripMargin
  )
}
