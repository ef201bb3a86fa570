"""Pieces more than one face family uses: the driver-table readers, the
filing-flavored pages view of the documents table, and the SQL fragments
that oracles in several families splice in (token split, shingles, MinHash
bands, language hit counts, the soft quality score, url canonicalization,
the quality gate)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf_parser_spark.operators import (
    curation as C,
    linkgraph as LG,
    textstats as TS,
    weburl as WU,
)
from pdf_parser_spark.operators.dedup import MINHASH_PARAMS
from pdf_parser_spark.plans import relational as R
from pdf_parser_spark.sources import expected as E, xbrl as X


def docs_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id, text, ...) -> pages(url, warc_ts, html, text, lang).

    doc_id % FILING_FLAVOR_MOD == FILING_FLAVOR_REM rows swap their webtext
    for filing_text(doc_id) — a filing-shaped page stream (cover, TOC,
    statements) — so the flagship extraction hash discriminates the G1
    splitter, the T8/T16 table path, E-field extraction, and W1 sequencing
    over real (company, period) groups, not only classification
    (r4-verdict oracle-net gap).  The flavor is applied identically by
    tools/gen_expected.py, so every oracle that reads the frozen fixture
    stays exact; it is NOT SQL-derivable, which is why no text-deriving
    SQL oracle consumes these pages."""
    import pandas as pd  # noqa: PLC0415

    from pdf_parser_spark.sources.corpus import (
        FILING_FLAVOR_MOD,
        FILING_FLAVOR_REM,
        filing_text,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def fn(batches):
        for pdf in batches:
            pdf = pdf.assign(text=[
                filing_text(int(d))
                if int(d) % FILING_FLAVOR_MOD == FILING_FLAVOR_REM else t
                for d, t in zip(pdf["doc_id"], pdf["text"])
            ])
            yield pdf

    flavored = docs.select("doc_id", "source", "lang", "text").mapInPandas(
        fn, "doc_id long, source string, lang string, text string")
    return flavored.select(
        F.concat(F.lit("doc://"), F.col("source"), F.lit("/"), F.col("doc_id")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


TOKS = "regexp_split_to_array(trim(text), '\\s+')"

# 3-gram word shingles, matching functions.word_shingles exactly:
# len<3 -> single whole-text shingle, else windows of 3
SHINGLES = (
    "CASE WHEN len({t}) < 3 THEN [array_to_string({t}, ' ')] "
    "ELSE list_transform(range(1, len({t}) - 1), i -> array_to_string({t}[i:i+2], ' ')) END"
).format(t=TOKS)

H32 = "CAST(('0x' || substr(md5({x}), 1, 8)) AS BIGINT)"

EN = "['the','a','of','and','to','in','is','for','on','with']"


def word_hits(words: str) -> str:
    return (
        f"CAST(len(list_intersect(list_distinct(list_transform({TOKS}, w -> lower(w))), {words})) AS BIGINT)"
    )


# the soft quality score, shared by t_quality_score and u_domain_quality so
# the per-doc score and the domain prior can never diverge
QUALITY_SQL = (
    f"round(0.5 * ({{h}} / 10.0)"
    f" + 0.3 * (CASE WHEN length(regexp_replace({{t}}, '\\s+', '', 'g'))"
    f" / len({{toks}}) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END)"
    f" + 0.2 * least(len({{toks}}) / 100.0, 1.0), 4)"
)


def quality_sql(text_col: str = "text") -> str:
    toks = TOKS.replace("text", text_col) if text_col != "text" else TOKS
    h = word_hits(EN).replace(TOKS, toks)
    return QUALITY_SQL.format(h=h, t=text_col, toks=toks)


def read_docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def read_embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


minhash_terms = ", ".join(
    f"CAST(list_min(list_transform(hs, h -> ({a} * h + {b}) % 4294967296)) AS BIGINT)"
    for a, b in MINHASH_PARAMS
)

sigs_cte = f"""
        WITH sh AS (
            SELECT doc_id, list_distinct({SHINGLES}) AS shingles FROM documents
        ), hashed AS (
            SELECT doc_id, list_transform(shingles, s -> {H32.format(x='s')}) AS hs
            FROM sh
        ), sigs AS (
            SELECT doc_id, [{minhash_terms}] AS sig FROM hashed
        )
    """

bands_cte = sigs_cte + """
        , banded AS (
            SELECT doc_id, b AS band,
                   CAST(b AS VARCHAR) || '_' || CAST(sig[2*b+1] AS VARCHAR) || '_' || CAST(sig[2*b+2] AS VARCHAR) AS bucket
            FROM sigs, (SELECT unnest(range(0, 4)) AS b)
        )
    """

# synthetic multi-line text, the literal twin of curation.with_synthetic_lines
# NB: array_to_string over an empty slice is NULL in DuckDB (Spark's
# concat_ws over an empty array is '') — coalesce every slice-join
lines_sql = (
    "list_filter(["
    "CASE WHEN doc_id % 2 = 0 THEN 'Home | About | Contact' ELSE '' END, "
    f"coalesce(array_to_string(({TOKS})[1:12], ' '), ''), "
    f"coalesce(array_to_string(({TOKS})[13:24], ' '), ''), "
    "CASE WHEN doc_id % 3 <> 2 THEN 'Subscribe to our newsletter' ELSE '' END, "
    "'(c) ' || source || ' media group'"
    "], x -> x <> '')"
)

# synthetic link graph: same (m, a) ring formulas as the Spark side
edges_sql = " UNION ALL ".join(
    f"SELECT doc_id AS src, (doc_id * {m} + {a}) % "
    f"(SELECT count(*) FROM documents) AS dst FROM documents"
    for m, a in LG.LINK_PARAMS
)

w9bot_sql = f"""
        WITH ev AS (
            SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
            FROM events
        ), rated AS (
            SELECT user_id,
                   count(*) OVER (
                       PARTITION BY user_id ORDER BY es
                       RANGE BETWEEN {R.BOT_WINDOW_S - 1} PRECEDING
                             AND CURRENT ROW) AS in_win
            FROM ev
        )
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(in_win) AS BIGINT) AS peak_rate,
               max(in_win) >= {R.BOT_RPM_MIN} AS is_bot
        FROM rated GROUP BY user_id ORDER BY user_id
    """

# shingles of the first-8-word benchmark snippet: the SHINGLES macro
# with its token array sliced to [1:8] (rejoin+resplit on the Spark side
# is identity on space-joined whitespace tokens)
SNIP_SHINGLES = SHINGLES.replace(TOKS, f"({TOKS})[1:8]")

rate_cases = " ".join(
    f"WHEN '{lang}' THEN {bp}" for lang, bp in sorted(C.DEFAULT_RATES.items())
)


def corpus_chain_for(tbl: str) -> str:
    """The corpus_build stage chain (gate -> exact-dedup keepers ->
        decontaminate -> stratified sample -> tokenized survivor set `t`)
        over any docs-shaped CTE/table — ONE definition shared by
        c_corpus_build and the WARC lifecycle composition so the stage
        twins cannot drift between the two faces."""
    return f"""{gate_cte_for(tbl)},
            s1 AS (
                SELECT d.* FROM {tbl} d
                JOIN gated g USING (doc_id) WHERE g.reasons = ''
            ), keepers AS (
                SELECT min(doc_id) AS doc_id FROM (
                    SELECT doc_id,
                           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
                    FROM s1
                ) GROUP BY fp
            ), s2 AS (
                SELECT s1.* FROM s1 JOIN keepers USING (doc_id)
            ), bench AS (
                SELECT DISTINCT unnest(list_distinct({SNIP_SHINGLES})) AS s
                FROM {tbl} WHERE doc_id % {C.BENCH_MOD} = 0
            ), conts AS (
                SELECT DISTINCT doc_id FROM (
                    SELECT doc_id, unnest(list_distinct({SHINGLES})) AS s
                    FROM s2
                ) x JOIN bench USING (s)
            ), s3 AS (
                SELECT * FROM s2
                WHERE doc_id NOT IN (SELECT doc_id FROM conts)
            ), s4 AS (
                SELECT * FROM s3
                WHERE CAST(('0x' || substr(md5('smpl:' || doc_id), 1, 8)) AS BIGINT)
                      % 10000 < CASE lang {rate_cases} ELSE -1 END
            ), t AS (
                SELECT doc_id, source, lang,
                       CAST(len({TOKS}) AS BIGINT) AS n_tokens
                FROM s4
            )"""


extract_cte = X.values_cte(
    E.EXTRACT_DOC_ROWS, E.EXTRACT_DOC_COLS,
    bigints={"n_pages", "n_sections"},
)

track = ", ".join(f"'{k}'" for k in WU.TRACKING_KEYS)

sfx = ", ".join(f"'{sx}'" for sx in WU.PUBLIC_SUFFIXES)


def url_cte_for(tbl: str) -> str:
    return f"""
        u AS (SELECT doc_id, lang, text, source, {WU.URL_SYNTH_SQL} AS url
              FROM {tbl}),
        p AS (
            SELECT u.*,
                   lower(regexp_extract(url, '{WU.URL_RE}', 1)) AS scheme,
                   lower(regexp_extract(url, '{WU.URL_RE}', 2)) AS host,
                   regexp_extract(url, '{WU.URL_RE}', 3) AS port_s,
                   regexp_extract(url, '{WU.URL_RE}', 4) AS path_raw,
                   regexp_extract(url, '{WU.URL_RE}', 5) AS query_s
            FROM u
        ),
        canon AS (
            SELECT *,
                scheme || '://' || host
                || CASE WHEN (scheme = 'https' AND port_s = ':443')
                          OR (scheme = 'http' AND port_s = ':80')
                        THEN '' ELSE port_s END
                || CASE WHEN regexp_replace(path_raw, '/+$', '') = ''
                        THEN '/' ELSE regexp_replace(path_raw, '/+$', '') END
                || CASE WHEN len(kept) = 0 THEN ''
                        ELSE '?' || array_to_string(kept, '&') END
                AS canonical_url
            FROM (
                SELECT *, list_sort(list_filter(
                        regexp_split_to_array(substr(query_s, 2), '&'),
                        q -> q <> ''
                             AND NOT starts_with(split_part(q, '=', 1), 'utm_')
                             AND NOT list_contains([{track}], split_part(q, '=', 1))
                    )) AS kept
                FROM p
            )
        ),
        hll AS (
            SELECT host, regexp_split_to_array(host, '\\.') AS l
            FROM (SELECT DISTINCT host FROM p)
        ),
        cands AS (
            SELECT host, i, array_to_string(l[len(l)-i+1:len(l)], '.') AS s
            FROM hll, unnest(range(1,
                greatest(least(len(l) - 1, {WU.MAX_SUFFIX_LABELS}), 1) + 1)) AS r(i)
        ),
        best AS (
            SELECT host, max(CASE WHEN s IN ({sfx}) THEN i END) AS b
            FROM cands GROUP BY host
        ),
        reg AS (
            SELECT hll.host,
                   CASE WHEN len(l) > COALESCE(b, 1)
                        THEN array_to_string(l[len(l)-COALESCE(b,1):len(l)], '.')
                        ELSE hll.host END AS reg_domain
            FROM hll JOIN best USING (host)
        )
    """


url_cte = url_cte_for("documents")

# per-host robots dim: ONE definition (weburl.ROBOTS_*_SQL) shared by
# every oracle that re-derives it
rules_cte = f"""
            rules AS (
                SELECT host,
                       {WU.ROBOTS_DISALLOW_SQL} AS disallow_prefix,
                       {WU.ROBOTS_DELAY_SQL} AS crawl_delay_ms
                FROM (SELECT DISTINCT host FROM canon)
            )"""


def gate_cte_for(tbl: str) -> str:
    return f"""
            gsig AS (
                SELECT doc_id,
                       CAST(len({TOKS}) AS BIGINT) AS n_tokens,
                       length(regexp_replace(text, '\\s+', '', 'g'))
                           / len({TOKS}) AS mean_wl,
                       {word_hits(EN)} AS stop_hits,
                       (length(text) - length(replace(text, '#', '')))
                           / len({TOKS}) AS hash_ratio,
                       len(list_filter(regexp_split_to_array(text, '\\n'),
                           l -> ends_with(l, '...')))
                           / len(regexp_split_to_array(text, '\\n')) AS ellipsis_ratio,
                       len(list_filter(regexp_split_to_array(text, '\\n'),
                           l -> starts_with(ltrim(l), '- ')
                             OR starts_with(ltrim(l), '* ')))
                           / len(regexp_split_to_array(text, '\\n')) AS bullet_ratio
                FROM {tbl}
            ), gated AS (
                SELECT doc_id, concat_ws(';',
                    CASE WHEN n_tokens < {TS.GATE_MIN_TOKENS} THEN 'too_few_tokens' END,
                    CASE WHEN n_tokens > {TS.GATE_MAX_TOKENS} THEN 'too_many_tokens' END,
                    CASE WHEN mean_wl < {TS.GATE_MEAN_WL_LO}
                           OR mean_wl > {TS.GATE_MEAN_WL_HI} THEN 'word_len' END,
                    CASE WHEN stop_hits < {TS.GATE_MIN_STOPWORD_HITS} THEN 'no_stopwords' END,
                    CASE WHEN hash_ratio > {TS.GATE_MAX_HASH_RATIO} THEN 'hash_symbols' END,
                    CASE WHEN ellipsis_ratio > {TS.GATE_MAX_ELLIPSIS_LINE_RATIO} THEN 'ellipsis_lines' END,
                    CASE WHEN bullet_ratio > {TS.GATE_MAX_BULLET_LINE_RATIO} THEN 'bullet_lines' END
                ) AS reasons
                FROM gsig)"""


w8_sql = f"""
            WITH base AS (
                SELECT event_id, user_id, event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) AS es,
                       CAST(round(value * 100) AS BIGINT) AS value_cents
                FROM events
            ), carried AS (
                SELECT *,
                       last_value(CASE WHEN event_type IN ({", ".join(
                           f"'{t}'" for t in R.ATTR_TOUCHES)})
                           THEN {{'tes': es, 'tid': event_id,
                                  'tty': event_type}} END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY es, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS lt
                FROM base
            )
            SELECT event_id, user_id, value_cents,
                   CASE WHEN lt IS NOT NULL
                             AND es - lt.tes <= {R.ATTR_LOOKBACK_S}
                        THEN lt.tty ELSE 'direct' END AS touch_type,
                   CAST(CASE WHEN lt IS NOT NULL
                             AND es - lt.tes <= {R.ATTR_LOOKBACK_S}
                        THEN lt.tid ELSE -1 END AS BIGINT)
                        AS touch_event_id,
                   CAST(CASE WHEN lt IS NOT NULL
                             AND es - lt.tes <= {R.ATTR_LOOKBACK_S}
                        THEN es - lt.tes ELSE -1 END AS BIGINT) AS gap_s
            FROM carried WHERE event_type = 'purchase'
            ORDER BY event_id
        """
