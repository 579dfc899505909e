package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (§2-J7 + north-star): media as opaque BINARY
  * columns with typed metadata. The query below proves the Spark-side
  * plumbing on synthesized bytes (deterministic md5-derived BLOBs —
  * the testdata has no real media); the decode/feature-extraction stubs
  * and `mapPartitions` batch shapes live in [[graft.functions.Media]] with
  * unit tests. */
object Multimodal extends QueryModule {

  val queries: Map[String, Q] = Map(
    // Binary passthrough: synthesize a 16-byte BLOB per document, carry it
    // through the engine, emit exact byte length + hex prefix.
    "multimodal_fingerprint" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", unhex(md5($"text".cast("binary"))).as("blob"))
        .select($"doc_id",
          length($"blob").as("byte_len"),
          substring(hex($"blob"), 1, 16).as("hex16"))
        .orderBy("doc_id")
    }),

    // Media-catalog metadata pass: synthesize a 32-byte payload per doc
    // (two chained md5 blocks — deterministic, no real media in the
    // testdata), sniff a "container type" from the first payload nibble
    // (the magic-bytes pattern of a real ingest), and report per-type
    // volume stats. The shape — binary column + metadata extraction +
    // group-report — is the catalog scan a multimodal corpus runs before
    // any decode; decode itself stays in Media.decodeStub (unit-tested).
    // Frame-sampling index: variable-length payloads (16·(1 + doc_id % 8)
    // bytes of chained md5 blocks, standing in for real media), indexed at
    // a fixed 32-byte stride — (frame_no, byte offset, 4-byte probe) per
    // frame, the seek table a video/audio pipeline builds BEFORE any
    // decode. Pure per-row string math on the hex form (no binary
    // substring, which DuckDB 1.0 lacks); the explode fan-out is bounded
    // by payload_bytes/stride, and at 100 TB the index rows co-partition
    // with the blob by doc_id so the decoder reads frames without a
    // shuffle.
    "multimodal_frame_index" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          expr("repeat(md5(text), cast(1 + doc_id % 8 as int))").as("hx"))
        .select($"doc_id", expr("cast(length(hx) div 2 as bigint)").as("blob_bytes"),
          $"hx")
        .select($"doc_id", $"blob_bytes",
          explode(expr("sequence(0, cast((blob_bytes + 31) div 32 as int) - 1)"))
            .as("frame_no"),
          $"hx")
        .select($"doc_id", $"frame_no".cast("long").as("frame_no"),
          ($"frame_no" * 32).cast("long").as("offset_bytes"),
          expr("substring(hx, frame_no * 64 + 1, 8)").as("frame_hex8"),
          $"blob_bytes")
        .orderBy("doc_id", "frame_no")
    }),

    "multimodal_type_sniff" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          unhex(concat(md5($"text".cast("binary")),
            md5(reverse($"text").cast("binary")))).as("blob"))
        .select($"doc_id", $"blob",
          expr("""CASE
            | WHEN substring(hex(blob), 1, 1) IN ('0','1','2','3') THEN 'image'
            | WHEN substring(hex(blob), 1, 1) IN ('4','5','6','7') THEN 'audio'
            | WHEN substring(hex(blob), 1, 1) IN ('8','9','A','B') THEN 'video'
            | ELSE 'other' END""".stripMargin).as("kind"))
        .groupBy($"kind")
        .agg(count(lit(1)).as("n_assets"),
          sum(length($"blob")).as("total_bytes"),
          min($"doc_id").as("min_doc"),
          max($"doc_id").as("max_doc"))
        .orderBy("kind")
    }),

    // WebDataset-style shard packing manifest: assign docs (payload size =
    // n_chars) to fixed-budget shards in stable doc_id order, emit the
    // per-shard manifest (counts, bytes, id range) a training loader
    // consumes. shard = bytes-before-this-doc div budget, so a doc larger
    // than the budget still lands in exactly one shard and ids stay dense
    // per source. Sharding is PER SOURCE (partitionBy source) — the
    // running sum parallelizes across sources instead of one global
    // ordered chain, which is the difference between a scalable layout
    // pass and a single-reducer bottleneck at 100 TB.
    "multimodal_shard_manifest" -> ((s, d) => {
      import s.implicits._
      val bySource = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"doc_id".asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.documents(s, d)
        .select($"source", $"doc_id", $"n_chars")
        .withColumn("cum", sum($"n_chars").over(bySource))
        .withColumn("shard_id", expr("(cum - n_chars) div 16384"))
        .groupBy($"source", $"shard_id")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("shard_bytes"),
          min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
        .orderBy("source", "shard_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "multimodal_fingerprint" ->
      """SELECT doc_id,
        |  CAST(octet_length(unhex(md5(text))) AS INT) AS byte_len,
        |  substring(hex(unhex(md5(text))), 1, 16) AS hex16
        |FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_frame_index" ->
      """WITH b AS (
        |  SELECT doc_id, repeat(md5(text), CAST(1 + doc_id % 8 AS INT)) AS hx
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, hx, CAST(len(hx) // 2 AS BIGINT) AS blob_bytes,
        |    unnest(range(0, (len(hx) // 2 + 31) // 32)) AS frame_no
        |  FROM b)
        |SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
        |  CAST(frame_no * 32 AS BIGINT) AS offset_bytes,
        |  substring(hx, CAST(frame_no * 64 + 1 AS INT), 8) AS frame_hex8,
        |  blob_bytes
        |FROM f ORDER BY doc_id, frame_no""".stripMargin,
    "multimodal_type_sniff" ->
      """WITH b AS (
        |  SELECT doc_id, unhex(md5(text) || md5(reverse(text))) AS blob
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, blob,
        |    CASE
        |      WHEN upper(substring(hex(blob), 1, 1)) IN ('0','1','2','3') THEN 'image'
        |      WHEN upper(substring(hex(blob), 1, 1)) IN ('4','5','6','7') THEN 'audio'
        |      WHEN upper(substring(hex(blob), 1, 1)) IN ('8','9','A','B') THEN 'video'
        |      ELSE 'other' END AS kind
        |  FROM b)
        |SELECT kind, COUNT(*) AS n_assets,
        |  CAST(SUM(octet_length(blob)) AS BIGINT) AS total_bytes,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM k GROUP BY kind ORDER BY kind""".stripMargin,
    "multimodal_shard_manifest" ->
      """WITH c AS (
        |  SELECT source, doc_id, n_chars,
        |    SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |SELECT source, CAST((cum - n_chars) // 16384 AS BIGINT) AS shard_id,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS shard_bytes,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM c GROUP BY source, shard_id ORDER BY source, shard_id""".stripMargin
  )
}
