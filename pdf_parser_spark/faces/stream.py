"""Structured Streaming faces: each one runs a streaming query to
completion over the driver tables and is held to the batch oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_parser_spark.faces import RUN_TS, Face
from pdf_parser_spark.faces.shared import (
    bands_cte,
    docs_as_pages,
    extract_cte,
    rules_cte,
    url_cte,
    w8_sql,
    w9bot_sql,
)
from pdf_parser_spark.operators import snapshot as SN
from pdf_parser_spark.streaming import (
    attribution,
    botdetect,
    changefeed,
    dedup,
    join,
    late as LT,
    neardup,
    pipeline,
    ratelimit,
    sessionize,
    trending,
    windowed,
)
from pdf_parser_spark.streaming.join import (
    ATTR_HOURS as ST_ATTR_HOURS,
    USER_TIER_MOD as ST_TIER_MOD,
)


def _st_extract(spark, sf_dir):
    """Streaming extraction held to the SAME frozen per-doc tuples as
    the batch flagship: pages stream in 4 micro-batches (one file per
    trigger) through streaming/pipeline.stream_extract into a parquet
    sink; the per-doc outputs must be byte-identical to the core path
    regardless of batch boundaries (the stage is stateless per row —
    that's the claim this hash-checks)."""
    import shutil
    import tempfile

    from pdf_parser_spark.streaming.pipeline import stream_extract

    work = tempfile.mkdtemp(prefix="stextract_")
    in_dir, out_dir, ckpt = (
        f"{work}/in", f"{work}/out", f"{work}/ckpt"
    )
    try:
        docs_as_pages(spark, sf_dir).repartition(4).write.parquet(in_dir)
        q = stream_extract(
            spark, in_dir, out_dir, ckpt, run_ts=RUN_TS,
            max_files_per_trigger=1,
        )
        q.processAllAvailable()
        q.stop()
        out = (
            spark.read.parquet(out_dir)
            .select(
                "url", "status", "report_type",
                F.col("n_pages").cast("long").alias("n_pages"),
                F.col("n_sections").cast("long").alias("n_sections"),
            )
            .orderBy("url")
            .persist()
        )
        out.count()  # materialize before the temp dirs are deleted
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


FACES = [
    # streaming twin of W4 — held to the SAME sql oracle (bounded replay
    # through applyInPandasWithState must reproduce the batch sessions)
    Face("st_sessionize", sessionize.sessionize_via_stream, """
            WITH gaps AS (
                SELECT user_id, ts, value, event_id,
                       CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                             OR CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id, value,
                       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                FROM gaps
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   round(sum(value), 4) AS session_value
            FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id
        """),
    # streaming exact dedup held to the batch DISTINCT oracle: the
    # surviving state keys must be exactly the distinct fingerprints
    Face("st_dedup", dedup.dedup_via_stream, """
            SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
            FROM documents ORDER BY fp
        """),
    # bounded-state streaming dedup: dropDuplicatesWithinWatermark —
    # one-batch replay never evicts, so the exact DISTINCT oracle
    # holds; eviction/re-admit pinned in pytest
    # bounded-state variant: one-batch replay == exact distinct
    Face("st_dedup_watermark", dedup.dedup_watermark_via_stream, """
            SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
            FROM documents ORDER BY fp
        """),
    # streaming LSH near-dup candidate feed: stateful first-seen keeper
    # per band bucket; one-batch replay makes the keeper the bucket min,
    # so the batch oracle is exact
    Face("st_neardup", neardup.neardup_via_stream, bands_cte + """
            , k AS (
                SELECT band, bucket, min(doc_id) AS keeper
                FROM banded GROUP BY band, bucket
            )
            SELECT CAST(b.band AS BIGINT) AS band, b.bucket,
                   CAST(k.keeper AS BIGINT) AS keeper_doc_id, b.doc_id
            FROM banded b JOIN k
              ON b.band = k.band AND b.bucket = k.bucket
            WHERE b.doc_id <> k.keeper
            ORDER BY b.band, b.bucket, b.doc_id
        """),
    # per-host politeness rate limiter: stateful max-plus schedule
    # (emit_n = max(arrival, last_emit + delay)), one BIGINT state row
    # per host; oracle = the closed form delay*n + running_max(arr-k*d)
    # rate limiter: the recurrence's closed form as one cumulative
    # window max per host — no recursion, pure SQL
    Face("st_rate_limit", ratelimit.rate_limit_via_stream, f"""
            WITH {url_cte},
{rules_cte},
            arr AS (
                SELECT c.doc_id, c.host,
                       CAST((c.doc_id * 137) % {__import__("pdf_parser_spark.streaming.ratelimit", fromlist=["x"]).ARRIVAL_MOD} AS BIGINT)
                           AS arrival_ms,
                       CAST(r.crawl_delay_ms AS BIGINT) AS delay_ms
                FROM canon c JOIN rules r USING (host)
            ),
            rk AS (
                SELECT *, row_number() OVER (PARTITION BY host
                              ORDER BY arrival_ms, doc_id) AS n
                FROM arr
            ),
            em AS (
                SELECT *, delay_ms * n
                          + max(arrival_ms - delay_ms * n)
                            OVER (PARTITION BY host ORDER BY n
                                  ROWS UNBOUNDED PRECEDING) AS emit_ms
                FROM rk
            )
            SELECT doc_id, host, arrival_ms,
                   CAST(emit_ms AS BIGINT) AS emit_ms,
                   CAST(emit_ms - arrival_ms AS BIGINT) AS wait_ms
            FROM em ORDER BY doc_id
        """),
    # streaming last-touch attribution: per-user stateful touch-carry
    # (applyInPandasWithState); one-batch replay -> the batch W8 SQL
    # is the oracle verbatim; cross-batch carry pinned in pytest
    # streaming twin: one-batch replay makes stream order = global
    # order, so the batch SQL is the oracle VERBATIM (ratelimit
    # doctrine); cross-batch state carry is pinned in pytest
    Face("st_attribution", attribution.attribution_via_stream, w8_sql),
    # streaming decayed trending (forward decay base 2, ICDE 2009):
    # per-key stateful floor-shift fold, two-BIGINT state; one-batch
    # replay -> recursive-CTE window chain is the oracle
    # streaming decayed trending: one-batch replay -> the per-key
    # floor-shift decay chain as a recursive CTE over the window
    # sequence (one row per (key, window) step), shift clamp mirrored
    Face("st_trending", trending.trending_via_stream, f"""
            WITH RECURSIVE wins AS (
                SELECT event_type,
                       CAST(floor(epoch(ts)) AS BIGINT)
                           // {trending.TREND_WINDOW_S} AS win,
                       CAST(count(*) AS BIGINT) AS n_events
                FROM events GROUP BY 1, 2
            ), seq AS (
                SELECT event_type, win, n_events,
                       row_number() OVER (
                           PARTITION BY event_type ORDER BY win) AS i
                FROM wins
            ), chain AS (
                SELECT event_type, i, win, n_events, n_events AS decayed
                FROM seq WHERE i = 1
                UNION ALL
                SELECT s.event_type, s.i, s.win, s.n_events,
                       CASE WHEN s.win - c.win > {trending.TREND_SHIFT_CLAMP}
                            THEN CAST(0 AS BIGINT)
                            ELSE c.decayed
                                 // (CAST(1 AS BIGINT) << (s.win - c.win))
                       END + s.n_events
                FROM chain c JOIN seq s
                  ON s.event_type = c.event_type AND s.i = c.i + 1
            )
            SELECT event_type, win, n_events, decayed
            FROM chain ORDER BY event_type, win
        """),
    # streaming peak-rate bot gate: bounded per-second histogram
    # state (applyInPandasWithState); one-batch replay -> the batch
    # W9 SQL is the oracle verbatim
    # streaming twin: one-batch replay, histogram fold == the range
    # frame (RANGE includes peers, so per-second sums attain the
    # peak); SAME SQL string (ratelimit doctrine)
    Face("st_bot_detect", botdetect.bot_detect_via_stream, w9bot_sql),
    # streaming right-to-be-forgotten: delete-request batches ->
    # foreachBatch(delete_keys) MOR commits, exactly-once via the
    # txnAppId-style token; read merges at scan time
    # streaming near-dup feed held to the batch twin: one-batch replay
    # elects the bucket's min doc_id as keeper, so the feed is exactly
    # (bucket min) x (every later bucket member)
    # streaming GDPR deletes: survivors of the %7 request batch
    Face("st_gdpr_delete", pipeline.gdpr_delete_via_stream, """
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id % 7 <> 0 ORDER BY doc_id
        """),
    # streaming ingest into a hidden-partitioned table: two micro-
    # batches -> partitioned_append commits, exactly-once via the
    # token ledger (batch 0 replayed in-harness and MUST skip), then
    # a pruned source-column-predicate scan feeds the rollup
    # streaming partitioned ingest: the full events table arrives over
    # two micro-batches + one replayed (skipped) batch; the pruned
    # scan's rollup equals the direct filter — a doubled batch 0
    # would double n_events/sum_ids and hash-mismatch
    Face("st_partitioned_ingest", pipeline.partitioned_ingest_via_stream, """
            SELECT strftime(ts, '%Y-%m-%d') AS ds,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(sum(event_id) AS BIGINT) AS sum_ids
            FROM events
            WHERE ts > TIMESTAMP '2024-01-20 12:00:00'
              AND event_type = 'click'
            GROUP BY ds ORDER BY ds
        """),
    # gated streaming ingest: write-audit-publish per micro-batch —
    # the poisoned batch is staged, audited, and ABORTED (no version);
    # clean batches publish; a replayed published batch must skip
    # gated streaming ingest: only the two clean micro-batches
    # (doc_id%3 in (0,2)) reach main — the poisoned %3==1 batch is
    # audited on its staged view and aborted whole; a leaked 'zz'
    # row, dropped clean batch, or doubled replay all mismatch
    Face("st_gated_ingest", pipeline.gated_ingest_via_stream, """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents WHERE doc_id % 3 <> 1
            GROUP BY lang ORDER BY lang
        """),
    # streaming incremental-MV maintenance: per-batch signed fold
    # (-1 from the batch keys' current rows, +1 from the batch), MV
    # committed before the idempotent base merge under the token
    # ledger — group-moving updates and a replayed batch both pinned
    # streaming incremental MV: the view equals a direct aggregation
    # of the final upserted state — every 7th doc's lang uppercased
    # by the update batch (group moves: a missed -1 leaves the old
    # group overcounted and the hash mismatches)
    Face("st_incremental_mv", pipeline.mv_maintain_via_stream, """
            SELECT CASE WHEN doc_id % 7 = 0 THEN upper(lang) ELSE lang END
                       AS lang,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM documents GROUP BY 1 ORDER BY 1
        """),
    # watermark late-DROP semantics: 4-batch replay with a re-delivered
    # early batch that must be dropped (and a trap batch that would
    # re-emit duplicates if it were merged instead)
    # streaming tumbling-window rollup (complete-mode bounded replay)
    # must equal the batch GROUP BY hour-bucket; epoch-seconds window
    # start avoids tz/repr ambiguity in the hash compare
    # watermark late-drop: Structured Streaming's late filter uses the
    # PREVIOUS batch's eviction watermark (one-batch lag), so the
    # re-delivered early batch is dropped exactly for windows already
    # emitted (end <= wm1 = max(batch0 ts) - delay) and legitimately
    # MERGES into the still-open boundary window (end > wm1) — its
    # count doubles.  Emitted set = windows whose end clears the final
    # watermark.  A drop-path regression shows up as doubled counts or
    # duplicate append rows; a merge-path regression as a missing
    # double on the boundary window.
    Face("st_late_events", LT.late_events_via_stream, f"""
            WITH wm AS (
                SELECT max(ts) - INTERVAL 30 MINUTE AS wmf,
                       max(CASE WHEN ts < TIMESTAMP '{LT.SPLIT1}' THEN ts END)
                           - INTERVAL 30 MINUTE AS wm1
                FROM events
            )
            SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
                       AS window_start,
                   event_type,
                   CAST(count(*) + CASE
                        WHEN date_trunc('hour', min(ts)) + INTERVAL 1 HOUR > wm1
                        THEN count(CASE WHEN ts < TIMESTAMP '{LT.SPLIT1}'
                                        THEN 1 END)
                        ELSE 0 END AS BIGINT) AS n_events,
                   min(event_id) AS min_event_id,
                   max(event_id) AS max_event_id
            FROM events, wm
            GROUP BY window_start, event_type, wmf, wm1
            HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR <= wmf
            ORDER BY window_start, event_type
        """),
    Face("st_window_counts", windowed.window_counts_via_stream, """
            SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   min(event_id) AS min_event_id,
                   max(event_id) AS max_event_id
            FROM events
            GROUP BY window_start, event_type
            ORDER BY window_start, event_type
        """),
    # stream-static enrichment join: broadcast dim per micro-batch,
    # stateless (no watermark, no buffering) — the common join form
    # stream-static enrichment: batch twin = plain dim-join rollup with
    # the tier CASE re-derived from the user_tier_dim formula (ids
    # beyond the dim would coalesce to 'unknown'; this corpus's user
    # space is exactly the dim's range)
    Face("st_static_enrich", join.static_enrich_via_stream, f"""
            SELECT CASE WHEN user_id < 150 THEN
                        CASE user_id % {ST_TIER_MOD}
                             WHEN 0 THEN 'gold' WHEN 1 THEN 'silver'
                             ELSE 'bronze' END
                        ELSE 'unknown' END AS tier,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   min(event_id) AS min_event_id,
                   max(event_id) AS max_event_id
            FROM events GROUP BY 1, 2 ORDER BY tier, event_type
        """),
    # stream-stream interval join (view->click attribution): watermarks
    # on BOTH legs + the time-range condition bound the join state to
    # the attribution horizon — the only way a 10^12-event firehose
    # join is runnable at all
    # stream-stream attribution join: the batch twin is the plain
    # interval join — the streaming machinery (watermarks, state
    # eviction) must be output-invisible on a bounded replay
    Face("st_stream_join", join.attribution_join_via_stream, f"""
            WITH v AS (
                SELECT event_id AS view_id, user_id, ts AS view_ts
                FROM events WHERE event_type = 'view'
            ), c AS (
                SELECT event_id AS click_id, user_id, ts AS click_ts
                FROM events WHERE event_type = 'click'
            )
            SELECT v.user_id, view_id, click_id,
                   CAST(floor(epoch(view_ts)) AS BIGINT) AS view_ts_s,
                   CAST(floor(epoch(click_ts)) AS BIGINT) AS click_ts_s
            FROM v JOIN c ON v.user_id = c.user_id
                AND c.click_ts >= v.view_ts
                AND c.click_ts <= v.view_ts + INTERVAL {ST_ATTR_HOURS} HOURS
            ORDER BY v.user_id, view_id, click_id
        """),
    # streaming extraction replay: per-doc outputs must equal the
    # frozen core-path tuples whatever the micro-batch boundaries
    # streaming extraction: the same frozen core-path tuples, no W1
    # window (the streaming stage is stateless per row)
    Face("st_extract", _st_extract, f"""
            SELECT url, status, report_type, n_pages, n_sections
            FROM {extract_cte} ORDER BY url
        """),
    # streaming crawl change-feed: one micro-batch per recrawl cycle,
    # last-seen fingerprint in keyed state; held to the batch lag() oracle
    # streaming change-feed: baseline is the PREVIOUS OBSERVATION
    # (state persists through gaps) -> plain lag() over presence rows;
    # the stream feeds one cycle per micro-batch, so a hash match means
    # the cross-batch state path computed every verdict correctly
    Face("st_change_feed", changefeed.change_feed_via_stream, f"""
            WITH snaps AS (
                SELECT d.doc_id, ts.snap_ts,
                       md5(d.text || '#' ||
                           ((ts.snap_ts * (d.doc_id % 3)) // 2)) AS fp
                FROM documents d,
                     (SELECT unnest(range(0, {SN.N_SNAPSHOTS})) AS snap_ts) ts
                WHERE (d.doc_id + ts.snap_ts) % 7 <> 0
            )
            SELECT doc_id, CAST(snap_ts AS BIGINT) AS snap_ts,
                   CASE WHEN lag(fp) OVER w IS NULL THEN 'added'
                        WHEN fp <> lag(fp) OVER w THEN 'changed'
                        ELSE 'unchanged' END AS verdict
            FROM snaps WINDOW w AS (PARTITION BY doc_id ORDER BY snap_ts)
            ORDER BY doc_id, snap_ts
        """),
]
