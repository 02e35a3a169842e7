package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine-internal queries (crawl drain, export split over crawl
  * output) — AND their DuckDB oracles. The engine's state is not one of
  * the driver tables, so Verify dumps the UNRESOLVED snapshot-table
  * files (base + deltas with `__delta_seq`) next to the results and the
  * oracle SQL re-derives everything independently in DuckDB over
  * `read_parquet(...)`: the merge-on-read latest-wins resolution, the
  * committed-order filter/sort, the queue-depth rollup, the full export
  * query, the phash-band near-dup join, and the global stats — so the
  * driver's gate checks the engine's storage resolution and query
  * logic, not just row counts.
  *
  * `{{DUMPS}}` is substituted by Verify with the absolute dump dir.
  * q36 (media feature extraction) is value-gated against a full-raster
  * pixel dump: DuckDB recomputes the per-image luma binning AND the
  * 16-bin histogram aggregation from the raw (r, g, b) rows.
  */
object Engine {
  import graft.crawl.Flagship

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q30_crawl_order"     -> (Flagship.crawlOrder _),
    "q31_crawl_media"     -> (Flagship.crawlMedia _),
    "q32_crawl_stats"     -> (Flagship.crawlStats _),
    "q33_frontier_depth"  -> (Flagship.crawlFrontierDepth _),
    "q34_export_split"    -> (Flagship.exportSplit _),
    "q35_phash_neardup"   -> (Flagship.phashNearDup _),
    "q36_media_features"  -> (Flagship.mediaFeatures _),
    "q37_global_stats"    -> (Flagship.globalStats _),
    "q44_media_invariants" -> (Flagship.mediaInvariants _),
    "q46_time_travel"     -> (Flagship.frontierAsof _),
    "q48_normalize_audit" -> (Flagship.normalizeAudit _),
    "q49_luma_binning"    -> (Flagship.lumaBinning _),
    "q50_lineage"         -> (Flagship.lineage _),
  )

  /** Latest-wins resolution of a raw snapshot-table dump — the DuckDB
    * twin of SnapshotTable.resolve. */
  private def resolved(dump: String, key: String): String =
    s"""SELECT * EXCLUDE (__delta_seq, __rn) FROM (
       |  SELECT *, row_number() OVER (PARTITION BY $key ORDER BY __delta_seq DESC) AS __rn
       |  FROM read_parquet('{{DUMPS}}/$dump/*.parquet'))
       |WHERE __rn = 1""".stripMargin

  val q30Sql: String =
    s"""WITH f AS (${resolved("dump_frontier_raw", "fp")})
       |SELECT processedAt AS batchNo, priority, seq, fp, url, state, error
       |FROM f
       |WHERE state IN ('processed', 'failed') AND processedAt >= 0
       |ORDER BY batchNo, priority, seq""".stripMargin

  /** n_bytes AND bytes_md5 are re-derived from the dumped bytes — the
    * md5 compare against the engine's STORED checksum is the S12
    * verified-copy audit, run by the driver's independent engine. */
  val q31Sql: String =
    s"""WITH p AS (${resolved("dump_payload_raw", "image_id")})
       |SELECT image_id, w, h, fmt, src_fmt, caption, phash,
       |  octet_length(bytes) AS n_bytes,
       |  md5(hex(bytes)) AS bytes_md5
       |FROM p""".stripMargin

  val q32Sql: String =
    s"""WITH p AS (${resolved("dump_payload_raw", "image_id")})
       |SELECT image_id, speech_duration_sec, subs_quality,
       |  utilization_rate, good_pieces, total_pieces
       |FROM p""".stripMargin

  val q33Sql: String =
    s"""WITH f AS (${resolved("dump_frontier_raw", "fp")})
       |SELECT state, count(*) AS n FROM f GROUP BY state""".stripMargin

  /** Full export re-derivation (maintenance/export-dataset.py §3.3):
    * first-occurrence dedup → full-mode clean → min-2-words filter →
    * md5 seeded shuffle → 80/10/10 positional split. */
  val q34Sql: String =
    s"""WITH p AS (${resolved("dump_payload_raw", "image_id")}),
       |dedup AS (
       |  SELECT image_id, caption FROM (
       |    SELECT image_id, caption,
       |      row_number() OVER (PARTITION BY caption ORDER BY image_id) AS rn
       |    FROM p WHERE caption IS NOT NULL AND length(trim(caption)) > 0)
       |  WHERE rn = 1),
       |cleaned AS (
       |  SELECT image_id,
       |    trim(regexp_replace(lower(trim(caption)), '[^а-яё\\- ]', '', 'g')) AS caption_clean
       |  FROM dedup),
       |filtered AS (
       |  SELECT * FROM cleaned
       |  WHERE len(regexp_split_to_array(trim(caption_clean), '\\s+')) >= 2),
       |ranked AS (
       |  SELECT image_id, caption_clean,
       |    row_number() OVER (ORDER BY md5(concat(image_id, '#42')), image_id) AS rn,
       |    count(*) OVER () AS n
       |  FROM filtered)
       |SELECT image_id, caption_clean,
       |  CASE WHEN rn <= floor(n * 0.8) THEN 'train'
       |       WHEN rn <= floor(n * 0.9) THEN 'dev'
       |       ELSE 'test' END AS split
       |FROM ranked""".stripMargin

  /** Hamming-LSH re-derivation: 4×16-bit bands, equi-join, popcount. */
  val q35Sql: String =
    s"""WITH p AS (${resolved("dump_payload_raw", "image_id")}),
       |banded AS (
       |  SELECT image_id, phash, band, (phash >> (band * 16)) & 65535 AS band_key
       |  FROM p, (SELECT unnest([0, 1, 2, 3]) AS band)),
       |pairs AS (
       |  SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b,
       |    a.phash AS ph_a, b.phash AS ph_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |   AND a.image_id < b.image_id)
       |SELECT id_a, id_b, cast(bit_count(xor(ph_a, ph_b)) as bigint) AS hamming
       |FROM pairs
       |WHERE bit_count(xor(ph_a, ph_b)) <= 6""".stripMargin

  /** Global stats: queue depths from the frontier + decimal-routed
    * corpus sums from the payload, divisions in IEEE double. */
  val q37Sql: String =
    s"""WITH f AS (${resolved("dump_frontier_raw", "fp")}),
       |p AS (${resolved("dump_payload_raw", "image_id")})
       |SELECT concat('queue_', state) AS metric, cast(count(*) AS double) AS value
       |FROM f GROUP BY state
       |UNION ALL SELECT concat('pct_', state),
       |  cast(count(*) AS double) * 100.0 / cast((SELECT count(*) FROM f) AS double)
       |FROM f WHERE state IN ('processed', 'failed') GROUP BY state
       |UNION ALL SELECT 'avg_good_piece_sec',
       |  CASE WHEN sum(good_pieces) = 0 THEN 0.0
       |       ELSE cast(sum(cast(speech_duration_sec AS decimal(28,9))) AS double)
       |            / cast(sum(good_pieces) AS double) END FROM p
       |UNION ALL SELECT 'speech_hours',
       |  cast(sum(cast(speech_duration_sec AS decimal(28,9))) AS double) / 3600.0 FROM p
       |UNION ALL SELECT 'good_pieces', cast(sum(good_pieces) AS double) FROM p
       |UNION ALL SELECT 'total_pieces', cast(sum(total_pieces) AS double) FROM p
       |UNION ALL SELECT 'media_rows', cast(count(*) AS double) FROM p
       |UNION ALL SELECT 'avg_utilization',
       |  cast(sum(cast(utilization_rate AS decimal(28,9))) AS double)
       |    / cast(count(*) AS double) FROM p
       |UNION ALL SELECT 'avg_subs_quality',
       |  cast(sum(cast(subs_quality AS decimal(28,9))) AS double)
       |    / cast(count(*) AS double) FROM p""".stripMargin

  /** q44 (decode invariants): every value is predictable from the
    * payload dump's independently-stored metadata — decoded dims and
    * the decoded pixel-raster size must equal the stored (w, h) / w·h,
    * the 8×8 resize must re-decode to 8×8, the 3-frame stub to
    * 3·16·16 px. The Spark side computes them by actually decoding. */
  val q44Sql: String =
    s"""WITH p AS (${resolved("dump_payload_raw", "image_id")})
       |SELECT image_id,
       |  cast(w AS bigint) AS dec_w, cast(h AS bigint) AS dec_h,
       |  cast(w AS bigint) * h AS hist_px,
       |  cast(8 AS bigint) AS thumb_w, cast(8 AS bigint) AS thumb_h,
       |  cast(768 AS bigint) AS frames_px
       |FROM p""".stripMargin

  /** q48 normalize-stage audit: every stored payload must be the
    * canonical normalized PNG (the reference stores ffmpeg-normalized
    * wav, not the download). The oracle predicts format + magic + dims
    * from independent metadata and re-derives md5(hex(bytes)) — which
    * the Spark side must reproduce by actually decoding and
    * RE-normalizing the stored bytes, hash-gating idempotence. */
  val q48Sql: String =
    s"""WITH p AS (${resolved("dump_payload_raw", "image_id")})
       |SELECT image_id,
       |  'png' AS norm_fmt,
       |  '89504E470D0A1A0A' AS sig_hex,
       |  cast(w AS bigint) AS dec_w, cast(h AS bigint) AS dec_h,
       |  md5(hex(bytes)) AS renorm_md5
       |FROM p""".stripMargin

  /** q36 — the media-features oracle (closing the last rows-only gap):
    * per image, DuckDB independently recomputes the BT.601 luma + bin
    * of EVERY decoded pixel from the full-raster dump and re-aggregates
    * the 16-bin histogram (exact counts) plus px_total; dims/fmt come
    * from the payload's independently stored metadata. The inner join
    * means a Spark-side decode failure (-1 row, empty raster) surfaces
    * as a row-count mismatch, never a value coincidence. Literal 0.299
    * etc. are cast to double explicitly — DuckDB parses bare decimals
    * as DECIMAL, whose arithmetic rounds differently at bin edges. */
  val q36Sql: String = {
    val binCols = (0 until 16)
      .map(i => f"  count(*) FILTER (WHERE bin = $i) AS h$i%02d")
      .mkString(",\n|")
    s"""WITH p AS (${resolved("dump_payload_raw", "image_id")}),
       |px AS (
       |  SELECT image_id,
       |    least(15, cast(floor(
       |      (cast(0.299 AS double) * r + cast(0.587 AS double) * g
       |        + cast(0.114 AS double) * b) / 16) AS bigint)) AS bin
       |  FROM read_parquet('{{DUMPS}}/dump_media_pixels_full/*.parquet')),
       |h AS (
       |  SELECT image_id, count(*) AS px_total,
       |$binCols
       |  FROM px GROUP BY image_id)
       |SELECT p.image_id, p.fmt,
       |  cast(p.w AS bigint) AS dec_w, cast(p.h AS bigint) AS dec_h,
       |  h.px_total,
       |  h00, h01, h02, h03, h04, h05, h06, h07,
       |  h08, h09, h10, h11, h12, h13, h14, h15
       |FROM p JOIN h ON p.image_id = h.image_id""".stripMargin
  }

  /** q49 luma binning (q36's per-pixel twin on a 16-px sample): the
    * Spark side bins 16 sampled decoded pixels per image through the
    * SHIPPED ImageOps.lumaOf/binOf path; DuckDB recomputes the BT.601
    * luma and min(15, floor(y/16)) from the dumped raw (r, g, b) —
    * IEEE-double bit-identical, so formula or binning drift breaks the
    * hash. */
  val q49Sql: String =
    """SELECT image_id, px_idx,
      |  least(15, cast(floor(
      |    (cast(0.299 AS double) * r + cast(0.587 AS double) * g
      |      + cast(0.114 AS double) * b) / 16) AS bigint)) AS bin
      |FROM read_parquet('{{DUMPS}}/dump_media_pixels/*.parquet')""".stripMargin

  /** q50 lineage: DuckDB independently parses the snapshot-manifest
    * JSON files + the CURRENT pointer (copied verbatim by Verify) and
    * reconstructs the current manifest's per-file lineage — gating the
    * manifest storage format itself (field names, per-file rows/bytes/
    * tag/bucket, the CURRENT indirection) against the engine's
    * metadata-table view. */
  val q50Sql: String =
    """WITH cur AS (
      |  SELECT cast(column0 AS bigint) AS id
      |  FROM read_csv('{{DUMPS}}/dump_frontier_meta/CURRENT',
      |                header=false, columns={'column0':'VARCHAR'})),
      |m AS (SELECT * FROM read_json('{{DUMPS}}/dump_frontier_meta/snap-*.json')),
      |f AS (SELECT m.id AS snap_id, unnest(m.files, recursive := true)
      |      FROM m JOIN cur ON m.id = cur.id)
      |SELECT snap_id, path, kind, deltaSeq AS delta_seq, rows, bytes, tag,
      |  cast(bucket AS bigint) AS bucket
      |FROM f""".stripMargin

  /** q46 time travel: Verify dumps the HISTORICAL manifest's raw file
    * list (readRawAt), and DuckDB resolves that state latest-wins — the
    * same resolver as q30, over a different (pinned, older) file set.
    * Any error in snapshot pinning or historical resolution breaks the
    * hash. */
  val q46Sql: String =
    s"""WITH f AS (${resolved("dump_frontier_asof_raw", "fp")})
       |SELECT fp, url, host, priority, seq, state, error,
       |  discoveredAt, processedAt
       |FROM f""".stripMargin

  val oracle: Map[String, String] = Map(
    "q30_crawl_order"    -> q30Sql,
    "q31_crawl_media"    -> q31Sql,
    "q32_crawl_stats"    -> q32Sql,
    "q33_frontier_depth" -> q33Sql,
    "q34_export_split"   -> q34Sql,
    "q35_phash_neardup"  -> q35Sql,
    "q36_media_features" -> q36Sql,
    "q37_global_stats"   -> q37Sql,
    "q44_media_invariants" -> q44Sql,
    "q46_time_travel"    -> q46Sql,
    "q48_normalize_audit" -> q48Sql,
    "q49_luma_binning"    -> q49Sql,
    "q50_lineage"         -> q50Sql,
  )
}
