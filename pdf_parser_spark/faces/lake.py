"""Lakehouse faces: the snapshot/manifest table format (time travel, WAP,
merge-on-read deletes, branches, schema and partition-spec evolution,
rollback), SCD2 history, and the WARC/WET/WAT/JSONL/ORC round trips."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_parser_spark.faces import Face
from pdf_parser_spark.faces.shared import read_docs
from pdf_parser_spark.operators import snapshot as SN
from pdf_parser_spark.sources import jsonl, orc, warc, warc_datasource


def _table_time_travel(spark, sf_dir):
    """Three appends into the snapshot/manifest table format, then a
    time-travel read AT version 2: exactly the first two snapshots'
    rows come back, regardless of the third append or any orphaned
    files (the manifest — not a directory glob — defines the table)."""
    import shutil
    import tempfile

    from pdf_parser_spark.sources import tableformat as tf

    work = tempfile.mkdtemp(prefix="tbl_")
    try:
        for k in range(3):
            tf.append_snapshot(
                read_docs(spark, sf_dir).where(F.col("doc_id") % 3 == k), work
            )
        out = (
            tf.read_table(spark, work, version=2)
            .select("doc_id", "lang", "source")
            .orderBy("doc_id")
            .persist()
        )
        out.count()  # materialize before the table dir is deleted
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _table_wap(spark, sf_dir):
    """Write-audit-publish (Iceberg WAP / cherry-pick) end to end:
    v1 publishes doc_id%3==0; a POISONED %3==1 batch (every 5th
    lang mangled to 'zz') is STAGED, caught by the audit on the
    staged view (main never sees it), and aborted; the clean %3==1
    batch is staged and audits green; a concurrent %3==2 append
    lands BETWEEN stage and publish, and publish must rebase onto
    it; a replayed publish must no-op via the wap token ledger.
    The final per-lang rollup equals the raw documents table —
    a leaked poisoned row ('zz' group), a lost concurrent append,
    or a doubled publish each hash-mismatch."""
    import shutil
    import tempfile

    from pdf_parser_spark.sources import tableformat as tf

    work = tempfile.mkdtemp(prefix="tblwap_")
    try:
        docs = read_docs(spark, sf_dir)
        v1 = tf.append_snapshot(docs.where(F.col("doc_id") % 3 == 0), work)
        poisoned = docs.where(F.col("doc_id") % 3 == 1).withColumn(
            "lang",
            F.when(F.col("doc_id") % 5 == 0, F.lit("zz"))
            .otherwise(F.col("lang")),
        )
        wap_bad = tf.stage_append(poisoned, work)
        # staged is invisible: no new version, one pending stage
        assert tf.current_version(work) == v1
        assert len(tf.list_staged(work)) == 1
        # the audit runs on the WOULD-BE table and catches the batch
        n_bad = (
            tf.read_staged(spark, work, wap_bad)
            .where(F.col("lang") == "zz").count()
        )
        assert n_bad > 0, "audit should see the poisoned rows"
        tf.abort_staged(work, wap_bad)
        wap_ok = tf.stage_append(docs.where(F.col("doc_id") % 3 == 1), work)
        assert (
            tf.read_staged(spark, work, wap_ok)
            .where(F.col("lang") == "zz").count() == 0
        )
        # concurrent append lands between stage and publish
        tf.append_snapshot(docs.where(F.col("doc_id") % 3 == 2), work)
        v = tf.publish_staged(work, wap_ok)
        assert tf.publish_staged(work, wap_ok) == v  # exactly-once
        out = (
            tf.read_table(spark, work)
            .groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("doc_id").alias("sum_ids"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .orderBy("lang")
            .persist()
        )
        out.count()  # materialize before the table dir is deleted
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _table_mor_delete(spark, sf_dir):
    """Merge-on-read equality deletes under the Iceberg v2 SEQUENCE
    rule, end to end: v1/v2 append doc_id%3 in (0,1); v3 equality-
    deletes every doc_id%5==0 key (a delete FILE commit — zero data
    files rewritten); v4 appends doc_id%3==2 — whose %5==0 members
    must SURVIVE the older delete (strictly-newer-files rule).  The
    final read is therefore (%3 in (0,1) AND %5 != 0) OR %3 == 2,
    which the oracle states directly; purge_deletes is then applied
    and must not change the hash (the maintenance rewrite materializes
    exactly the readers' view)."""
    import shutil
    import tempfile

    from pdf_parser_spark.sources import tableformat as tf

    work = tempfile.mkdtemp(prefix="tblmor_")
    try:
        d = F.col("doc_id")
        docs = read_docs(spark, sf_dir)
        tf.append_snapshot(docs.where(d % 3 == 0), work)
        tf.append_snapshot(docs.where(d % 3 == 1), work)
        tf.delete_keys(
            spark, docs.where(d % 5 == 0).select("doc_id"), work,
            "doc_id")
        tf.append_snapshot(docs.where(d % 3 == 2), work)
        tf.purge_deletes(spark, work)  # hash-identity pinned by oracle
        out = (
            tf.read_table(spark, work)
            .select("doc_id", "lang", "source")
            .orderBy("doc_id")
            .persist()
        )
        out.count()  # materialize before the table dir is deleted
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _table_pos_delete(spark, sf_dir):
    """Merge-on-read POSITION deletes (Iceberg v2's second delete
    kind) end to end: v1/v2 append doc_id%3 in (0,1); positions_of
    turns the row predicate (lang='de' OR doc_id%7==2) into (file,
    ordinal) pairs over the CURRENT files and delete_positions
    commits them (kind='pos', zero data files rewritten); v4 appends
    doc_id%3==2 — whose de/%7==2 members land in NEW files no
    position names, so they survive (the positional analog of the
    equality path's strictly-newer-seq rule).  purge_deletes then
    rewrites exactly the recorded target files and must not change
    the hash.  Final view: (%3 in (0,1) AND NOT(de OR %7==2)) OR
    %3==2, stated directly by the oracle."""
    import shutil
    import tempfile

    from pdf_parser_spark.sources import tableformat as tf

    work = tempfile.mkdtemp(prefix="tblpos_")
    try:
        d = F.col("doc_id")
        docs = read_docs(spark, sf_dir)
        tf.append_snapshot(docs.where(d % 3 == 0), work)
        tf.append_snapshot(docs.where(d % 3 == 1), work)
        hit = (F.col("lang") == "de") | (F.col("doc_id") % 7 == 2)
        tf.delete_positions(
            spark, tf.positions_of(spark, work, hit), work)
        tf.append_snapshot(docs.where(d % 3 == 2), work)
        tf.purge_deletes(spark, work)  # hash-identity pinned by oracle
        out = (
            tf.read_table(spark, work)
            .select("doc_id", "lang", "source")
            .orderBy("doc_id")
            .persist()
        )
        out.count()  # materialize before the table dir is deleted
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _table_branch(spark, sf_dir):
    """Branch/tag refs end to end: main v1 appends doc_id%3==0 and is
    tagged; a branch forked at v1 takes TWO audit appends (%3==1,
    %3==2) that main readers never see; fast_forward publishes the
    series as ONE metadata-only main commit (branch-added files
    renumbered to the new sequence); an equality delete (%11==0) on
    main afterwards must hit the renumbered branch files too — the
    final read is exactly docs %11 != 0, stated by the oracle.  A
    leaked branch commit before the ff, a lost branch append, or a
    seq-collision sparing branch files from the delete each
    hash-mismatch."""
    import shutil
    import tempfile

    from pdf_parser_spark.sources import tableformat as tf

    work = tempfile.mkdtemp(prefix="tblbr_")
    try:
        d = F.col("doc_id")
        docs = read_docs(spark, sf_dir)
        tf.append_snapshot(docs.where(d % 3 == 0), work)
        tf.create_tag(work, "rel-1")
        tf.create_branch(work, "audit")
        tf.branch_append(docs.where(d % 3 == 1), work, "audit")
        tf.branch_append(docs.where(d % 3 == 2), work, "audit")
        tf.fast_forward(work, "audit", token="ff:1")
        tf.delete_keys(
            spark, docs.where(d % 11 == 0).select("doc_id"), work,
            "doc_id")
        out = (
            tf.read_table(spark, work)
            .select("doc_id", "lang", "source")
            .orderBy("doc_id")
            .persist()
        )
        out.count()  # materialize before the table dir is deleted
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _table_snapshots(spark, sf_dir):
    """Metadata-table introspection: a deterministic lifecycle
    (append, append, compact, MOR delete, append — every file count
    pinned by coalesce(1)/small-table compaction) and then the
    version history queried AS A TABLE: one row per version with the
    derived commit kind and file/row deltas.  The oracle states the
    expected history literally with row counts from the documents
    strata."""
    import shutil
    import tempfile

    from pdf_parser_spark.sources import tableformat as tf

    work = tempfile.mkdtemp(prefix="tblsnap_")
    try:
        d = F.col("doc_id")
        docs = read_docs(spark, sf_dir)
        tf.append_snapshot(docs.where(d % 3 == 0).coalesce(1), work)
        tf.append_snapshot(docs.where(d % 3 == 1).coalesce(1), work)
        tf.compact_table(spark, work)
        tf.delete_keys(
            spark, docs.where(d % 5 == 0).select("doc_id"), work,
            "doc_id")
        tf.append_snapshot(docs.where(d % 3 == 2).coalesce(1), work)
        return tf.snapshots_table(spark, work).persist()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _table_dedup_inplace(spark, sf_dir):
    """Lakehouse dedup maintenance under ONE hash — the operation a
    10^12-row corpus runs every crawl cycle: the table ingests docs
    in two snapshots plus a RECRAWL snapshot of byte-identical copies
    (doc_id%4==0 re-appended at +10^6 ids, same text), exact-dedup
    election (d_exact's normalized-md5 fingerprint, keeper = min
    doc_id) names the losers, and a merge-on-read equality DELETE
    removes them — kilobytes of delete metadata against the whole
    table, zero data files rewritten at delete time — then
    purge_deletes compacts back to copy-on-write and the read must be
    exactly the original corpus.  A wrong keeper (copy kept), a
    missed copy, an over-delete, or a purge divergence each
    hash-mismatch."""
    import shutil
    import tempfile

    from pdf_parser_spark.sources import tableformat as tf

    work = tempfile.mkdtemp(prefix="tbldedup_")
    try:
        d = F.col("doc_id")
        docs = read_docs(spark, sf_dir).select(
            "doc_id", "text", "lang", "source")
        tf.append_snapshot(docs.where(d % 2 == 0), work)
        tf.append_snapshot(docs.where(d % 2 == 1), work)
        recrawl = docs.where(d % 4 == 0).withColumn(
            "doc_id", d + 1_000_000)
        tf.append_snapshot(recrawl, work)
        live = tf.read_table(spark, work)
        from pdf_parser_spark.operators.dedup import exact_dedup_groups
        groups = exact_dedup_groups(live)
        fp = F.md5(F.lower(
            F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
        losers = (
            live.select(fp.alias("fp"), "doc_id")
            .join(groups.where(F.col("n_docs") > 1), "fp")
            .where(F.col("doc_id") != F.col("keep_doc_id"))
            .select("doc_id")
        )
        tf.delete_keys(spark, losers, work, "doc_id")
        tf.purge_deletes(spark, work)
        out = (
            tf.read_table(spark, work)
            .select("doc_id", "lang", "source")
            .orderBy("doc_id")
            .persist()
        )
        out.count()  # materialize before the table dir is deleted
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _table_schema_evolution(spark, sf_dir):
    """Schema evolution end to end: v1 appends (doc_id, lang), v2
    appends (doc_id, lang, source) — an ADD-COLUMN evolution recorded
    in the manifest — and v3 drops lang metadata-only.  The final read
    exposes exactly (doc_id, source) with v1's rows NULL-backfilled
    (they were written before the column existed), which the oracle
    states directly from the doc_id%2 split."""
    import shutil
    import tempfile

    from pdf_parser_spark.sources import tableformat as tf

    work = tempfile.mkdtemp(prefix="tblevo_")
    try:
        d = F.col("doc_id")
        docs = read_docs(spark, sf_dir)
        tf.append_snapshot(
            docs.where(d % 2 == 0).select("doc_id", "lang"), work)
        tf.append_snapshot(
            docs.where(d % 2 == 1).select("doc_id", "lang", "source"),
            work)
        tf.drop_columns(spark, work, ["lang"])
        out = (
            tf.read_table(spark, work)
            .select("doc_id", "source")
            .orderBy("doc_id")
            .persist()
        )
        out.count()  # materialize before the table dir is deleted
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _table_incremental_mv(spark, sf_dir):
    """Every commit kind flows through ONE signed-delta fold: v1/v2
    append the %3 splits, v3 is a COW merge that both INSERTS (%3==2)
    and UPDATES (%30==0 rows flip lang to 'zz'), v4 MOR-deletes every
    %7==0 key.  The returned view is the INCREMENTALLY maintained one
    — a fold bug (sign flip, lost group, zero-group retention)
    hash-mismatches the oracle's direct aggregation of the final
    state."""
    import shutil
    import tempfile

    from pdf_parser_spark.sources import tableformat as tf

    work = tempfile.mkdtemp(prefix="tblmv_")
    try:
        d = F.col("doc_id")
        docs = read_docs(spark, sf_dir)
        tf.append_snapshot(docs.where(d % 3 == 0), work)
        tf.append_snapshot(docs.where(d % 3 == 1), work)
        upsert = docs.where(d % 3 == 2).unionByName(
            docs.where(d % 30 == 0).withColumn("lang", F.lit("zz"))
        )
        tf.merge_snapshot(spark, upsert, work, "doc_id")
        tf.delete_keys(
            spark, docs.where(d % 7 == 0).select("doc_id"), work,
            "doc_id")
        out = (
            tf.incremental_mv(spark, work, "lang")
            .select("lang", F.col("n_rows").alias("n_docs"))
            .orderBy("lang")
            .persist()
        )
        out.count()  # materialize before the table dir is deleted
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _table_pruned_scan(spark, sf_dir):
    """Zone-map scan over the manifest table: three appends with
    disjoint doc_id ranges, then a doc_id >= 334 scan that must
    eliminate the first two snapshots' files from METADATA alone
    (asserted — a planner regression fails the driver run, not just
    a timing)."""
    import shutil
    import tempfile

    from pdf_parser_spark.sources import tableformat as tf

    work = tempfile.mkdtemp(prefix="tblscan_")
    try:
        d = F.col("doc_id")
        for lo, hi in ((0, 167), (167, 334), (334, 1 << 40)):
            tf.append_snapshot(
                read_docs(spark, sf_dir).where((d >= lo) & (d < hi)), work
            )
        df, n_read, n_total = tf.scan_table(
            spark, work, predicates=[("doc_id", ">=", 334)]
        )
        assert n_read < n_total, (n_read, n_total)
        out = df.select("doc_id", "lang").orderBy("doc_id").persist()
        out.count()  # materialize before the table dir is deleted
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _table_partitioned_scan(spark, sf_dir):
    """Hidden partitioning end to end (Iceberg partition transforms):
    events written once under (day(ts), bucket(4, event_type)), then a
    scan whose predicates mention ONLY the source columns — the
    planner derives the partition predicates itself (day widening at
    the strict bound, the bucket hash for the equality), eliminates
    day x bucket files from manifest metadata alone (asserted — a
    derivation regression fails the driver run), and the day-level
    rollup must hash-match the oracle's direct filter over the raw
    parquet.  At 10^12 rows this is the difference between listing a
    crawl-day's files and listing the crawl's."""
    import shutil
    import tempfile

    from pdf_parser_spark.sources import tableformat as tf

    work = tempfile.mkdtemp(prefix="tblpart_")
    try:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        tf.partitioned_append(
            ev, work, [("day", "ts"), ("bucket", 4, "event_type")]
        )
        df, n_read, n_total = tf.scan_table(
            spark, work,
            predicates=[("ts", ">", "2024-01-20 12:00:00"),
                        ("event_type", "=", "click")],
        )
        assert n_read < n_total, (n_read, n_total)
        out = (
            df.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("ds"))
            .agg(
                F.count("*").alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum("event_id").alias("sum_ids"),
            )
            .orderBy("ds")
            .persist()
        )
        out.count()  # materialize before the table dir is deleted
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _table_spec_evolution(spark, sf_dir):
    """Partition-spec evolution end to end (Iceberg §Partition
    Evolution): half the docs land under identity(lang), the spec
    evolves — one JSON write, zero data bytes — and the other half
    lands under identity(source).  Scan planning then resolves each
    file's OWN spec: a lang predicate eliminates old-era files, a
    source predicate eliminates new-era files, and each era's files
    pass un-pruned through the other era's predicate (asserted —
    era-appropriate pruning is the contract).  The returned rollup of
    three labeled scans must hash-match the oracle's direct filters
    over the raw parquet — pruning is an optimization, never the
    correctness path."""
    import shutil
    import tempfile

    from pdf_parser_spark.sources import tableformat as tf

    docs = read_docs(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="tblspec_")
    try:
        tf.partitioned_append(
            docs.where(F.col("doc_id") % 2 == 0), work,
            [("identity", "lang")],
        )
        tf.evolve_partition_spec(work, [("identity", "source")])
        tf.partitioned_append(
            docs.where(F.col("doc_id") % 2 == 1), work,
            [("identity", "source")],
        )
        scans = []
        for label, preds in [
            ("lang_eq", [("lang", "=", "en")]),
            ("source_eq", [("source", "=", "src3")]),
            ("both", [("lang", "=", "en"), ("source", "=", "src3")]),
        ]:
            df, n_read, n_total = tf.scan_table(
                spark, work, predicates=preds
            )
            assert n_read < n_total, (label, n_read, n_total)
            scans.append(df.agg(
                F.lit(label).alias("scan"),
                F.count("*").cast("long").alias("n_docs"),
                F.sum("doc_id").cast("long").alias("sum_ids"),
            ))
        out = scans[0].unionByName(scans[1]).unionByName(scans[2]) \
            .orderBy("scan").persist()
        out.count()  # materialize before the table dir is deleted
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _table_files(spark, sf_dir):
    """The files metadata table over a two-append identity(lang)
    table written one-file-per-partition-value: every footer row
    count and zone-map key range must equal the oracle's direct
    per-(stratum, lang) aggregation, ordinal = (min, max, rows)
    rank — uuid paths never surface."""
    import shutil
    import tempfile

    from pdf_parser_spark.sources import tableformat as tf

    docs = read_docs(spark, sf_dir).select("doc_id", "lang", "source")
    work = tempfile.mkdtemp(prefix="tblfiles_")
    try:
        for stratum in (0, 1):
            tf.partitioned_append(
                docs.where(F.col("doc_id") % 3 == stratum).coalesce(1),
                work, [("identity", "lang")],
            )
        out = tf.files_table(spark, work).persist()
        out.count()  # materialize before the table dir is deleted
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _table_rollback(spark, sf_dir):
    """Rollback end to end: good append, bad append, metadata-only
    rollback (history moves FORWARD — the bad version stays time-
    travelable), the bad batch's token still refuses to replay after
    the rollback (exactly-once is per-batch, not per-state), then a
    recovery append.  Final state = good + recovery rows; the oracle
    is the direct filter."""
    import shutil
    import tempfile

    from pdf_parser_spark.sources import tableformat as tf

    docs = read_docs(spark, sf_dir).select("doc_id", "lang", "source")
    work = tempfile.mkdtemp(prefix="tblrb_")
    try:
        tf.append_snapshot(docs.where(F.col("doc_id") % 3 == 0), work)
        tf.append_snapshot(
            docs.where(F.col("doc_id") % 3 == 1), work, token="bad-b2"
        )
        v3 = tf.rollback_to(work, 1)
        assert v3 == 3
        # the rolled-back batch must NOT replay: ledger survives
        v_after = tf.append_snapshot(
            docs.where(F.col("doc_id") % 3 == 1), work, token="bad-b2"
        )
        assert v_after == 3, v_after
        # the bad version is still time-travelable (forward history)
        n_v2 = tf.read_table(spark, work, version=2).count()
        assert n_v2 > tf.read_table(spark, work, version=3).count()
        kinds = {r["version"]: r["kind"]
                 for r in tf.snapshots_table(spark, work).collect()}
        assert kinds[3] == "rollback"
        tf.append_snapshot(docs.where(F.col("doc_id") % 3 == 2), work)
        out = tf.read_table(spark, work).orderBy("doc_id").persist()
        out.count()  # materialize before the table dir is deleted
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


# WARC revisit: the oracle re-derives the two-cycle capture stream from
# the documents formula (every constant interpolated from the module —
# anti-drift) and runs the SAME min-cap_id digest election, so an
# election-order or link-resolution drift hash-mismatches
_warc_revisit_sql = f"""
        WITH caps AS (
            SELECT CAST(doc_id AS BIGINT) AS cap_id,
                   'https://' || source || '.example.com/doc/' || doc_id AS uri,
                   '{warc.WARC_DATE}' AS cap_date, text
            FROM documents
            UNION ALL
            SELECT CAST(doc_id + {warc.REVISIT_OFFSET} AS BIGINT) AS cap_id,
                   'https://' || source || '.example.com/doc/' || doc_id AS uri,
                   '{warc.WARC_DATE2}' AS cap_date, text
            FROM documents WHERE doc_id % {warc.REVISIT_MOD} = {warc.REVISIT_REM}
        ), dig AS (
            SELECT cap_id, uri, cap_date, md5(text) AS digest FROM caps
        ), orig AS (
            SELECT digest, min(cap_id) AS orig_cap FROM dig GROUP BY digest
        )
        SELECT c.cap_id,
               CASE WHEN c.cap_id = o.orig_cap THEN 'response'
                    ELSE 'revisit' END AS warc_type,
               c.uri AS target_uri,
               c.cap_date AS warc_date,
               c.digest AS payload_digest,
               o.orig_cap,
               c.digest AS body_md5,
               TRUE AS digest_ok
        FROM dig c JOIN orig o ON c.digest = o.digest
        ORDER BY cap_id
    """

# WARC round-trip fidelity projection, shared verbatim by the JVM
# lineSep read (u_warc_roundtrip) and the registered Python DataSource
# read (u_warc_datasource) — one oracle, two parsers
_warc_rt_sql = """
        SELECT doc_id,
               'https://' || source || '.example.com/doc/' || doc_id AS target_uri,
               CAST(200 AS INT) AS http_status,
               -- HTTP Content-Length is BYTES (octet_length), not chars
               CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
               CAST(length(text) AS BIGINT) AS n_body_chars,
               md5(text) AS body_md5
        FROM documents ORDER BY doc_id
    """


FACES = [
    # snapshot/manifest table format: 3 appends, read AT version 2 —
    # time travel returns exactly the first two snapshots' rows
    # time-travel read at version 2 = snapshots 1+2 = doc_id%3 in (0,1)
    Face("u_table_time_travel", _table_time_travel, """
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id % 3 < 2 ORDER BY doc_id
        """),
    # zone-map file skipping: manifest min/max stats eliminate files
    # pruned scan result must equal the plain predicate (pruning is an
    # optimization, never the correctness path — and the query itself
    # asserts files WERE eliminated)
    Face("u_table_pruned_scan", _table_pruned_scan, """
            SELECT doc_id, lang FROM documents
            WHERE doc_id >= 334 ORDER BY doc_id
        """),
    # hidden partitioning: day/bucket transforms derived from source-
    # column predicates, file elimination from manifest metadata alone
    # hidden partitioning: the scan's derived day/bucket elimination is
    # an optimization only — the result equals the direct filter (the
    # query itself asserts files WERE eliminated)
    Face("u_table_partitioned_scan", _table_partitioned_scan, """
            SELECT strftime(ts, '%Y-%m-%d') AS ds,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(sum(event_id) AS BIGINT) AS sum_ids
            FROM events
            WHERE ts > TIMESTAMP '2024-01-20 12:00:00'
              AND event_type = 'click'
            GROUP BY ds ORDER BY ds
        """),
    # partition-spec evolution: metadata-only current-spec change,
    # each file prunes under the spec it was written with
    # spec evolution: era-appropriate pruning is asserted in the
    # query; the DATA contract is that each labeled scan equals the
    # direct filter over all docs (both eras together = the corpus)
    Face("u_table_spec_evolution", _table_spec_evolution, """
            SELECT 'lang_eq' AS scan,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents WHERE lang = 'en'
            UNION ALL
            SELECT 'source_eq', CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT)
            FROM documents WHERE source = 'src3'
            UNION ALL
            SELECT 'both', CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT)
            FROM documents WHERE lang = 'en' AND source = 'src3'
            ORDER BY scan
        """),
    # metadata-only rollback: forward history, surviving token ledger
    # rollback: final state = the good batch + the recovery batch
    # (the rolled-back %3==1 batch is gone from current, and its
    # token-refused replay is asserted in-query)
    Face("u_table_rollback", _table_rollback, """
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id % 3 IN (0, 2) ORDER BY doc_id
        """),
    # files metadata table: footer rows + zone-map ranges as a frame
    # files table: per-(stratum, lang) direct aggregation == footer
    # counts + zone ranges; ordinal is the (min, max, rows) rank
    Face("u_table_files", _table_files, """
            WITH strata AS (
                SELECT doc_id, lang, doc_id % 3 AS s FROM documents
                WHERE doc_id % 3 < 2
            ), g AS (
                SELECT s, lang, CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(min(doc_id) AS BIGINT) AS min_key,
                       CAST(max(doc_id) AS BIGINT) AS max_key
                FROM strata GROUP BY s, lang
            )
            SELECT CAST(row_number() OVER (
                       ORDER BY min_key, max_key, n_rows) - 1 AS BIGINT)
                       AS ordinal,
                   n_rows, min_key, max_key,
                   lang AS partition, '0' AS spec_id
            FROM g ORDER BY ordinal
        """),
    # write-audit-publish: staged snapshot invisible, audit on the
    # staged view, abort the poisoned batch, publish rebases over a
    # concurrent append, replayed publish no-ops (wap token ledger)
    # write-audit-publish: the final table is exactly the raw docs —
    # the aborted poisoned stage ('zz' langs), a doubled publish, or
    # a dropped concurrent append would each move the rollup
    Face("u_table_wap", _table_wap, """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang ORDER BY lang
        """),
    # merge-on-read equality deletes + purge: v2 sequence rule (a key
    # appended after its delete survives), purge hash-identity
    # MOR deletes: the v3 delete (%5==0) applies only to the v1/v2
    # appends (%3 in (0,1)); the v4 append (%3==2) has a strictly
    # newer sequence, so its %5==0 members survive
    Face("u_table_mor_delete", _table_mor_delete, """
            SELECT doc_id, lang, source FROM documents
            WHERE (doc_id % 3 < 2 AND doc_id % 5 <> 0) OR doc_id % 3 = 2
            ORDER BY doc_id
        """),
    # position deletes: the committed (file, ordinal) pairs cover
    # exactly the v1/v2 rows matching (de OR %7==2); the v4 append's
    # matching rows live in files no position names and survive
    Face("u_table_pos_delete", _table_pos_delete, """
            SELECT doc_id, lang, source FROM documents
            WHERE (doc_id % 3 < 2
                   AND NOT (lang = 'de' OR doc_id % 7 = 2))
               OR doc_id % 3 = 2
            ORDER BY doc_id
        """),
    # branch refs: the audit series fast-forwarded onto main, then a
    # main-side delete that must reach the renumbered branch files —
    # final state is simply every doc outside the deleted key set
    Face("u_table_branch", _table_branch, """
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id % 11 <> 0 ORDER BY doc_id
        """),
    # in-place dedup maintenance: after recrawl-copy injection,
    # election, MOR delete of losers, and purge, the table is exactly
    # the original corpus — every divergence is hash-visible
    Face("u_table_dedup_inplace", _table_dedup_inplace, """
            SELECT doc_id, lang, source FROM documents ORDER BY doc_id
        """),
    # metadata table: the literal expected history, row counts from
    # the strata (file counts pinned by coalesce(1)/compaction)
    Face("u_table_snapshots", _table_snapshots, """
            SELECT * FROM (VALUES
                (CAST(1 AS BIGINT), CAST(0 AS BIGINT), 'append', 1, 1,
                 (SELECT count(*) FROM documents WHERE doc_id % 3 = 0), 0),
                (2, 1, 'append', 1, 2,
                 (SELECT count(*) FROM documents WHERE doc_id % 3 = 1), 0),
                (3, 2, 'compact', 1, 1, CAST(0 AS BIGINT), 0),
                (4, 3, 'delete', 0, 1, 0, 1),
                (5, 4, 'append', 1, 2,
                 (SELECT count(*) FROM documents WHERE doc_id % 3 = 2), 1)
            ) AS t(version, parent_version, kind, n_added_files,
                   n_all_files, added_rows, n_delete_files)
            ORDER BY version
        """),
    # add-column evolution (NULL backfill for pre-evolution files) +
    # metadata-only column drop
    # schema evolution: v1 rows (%2==0) predate the source column ->
    # NULL backfill; lang dropped metadata-only, so it never appears
    Face("u_table_schema_evolution", _table_schema_evolution, """
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 1 THEN source END AS source
            FROM documents ORDER BY doc_id
        """),
    # incrementally-maintained MV: signed CDC fold over append + COW
    # upsert + MOR delete, held to the direct final aggregation
    # incremental MV: direct aggregation of the final state — the %30
    # upsert overrides lang, the %7 MOR delete removes rows
    Face("u_table_incremental_mv", _table_incremental_mv, """
            SELECT CASE WHEN doc_id % 30 = 0 THEN 'zz' ELSE lang END AS lang,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents WHERE doc_id % 7 <> 0
            GROUP BY 1 ORDER BY lang
        """),
    # WARC connector round-trip: docs -> archive files -> parsed back;
    # md5(body) pins byte-exact payload fidelity against the oracle
    # WARC round-trip: every parsed column is recomputable from the
    # documents table alone; body_md5 = md5(text) is the byte-fidelity pin
    Face("u_warc_roundtrip", warc.roundtrip, _warc_rt_sql),
    # the REGISTERED Python DataSource read of the same WARC bytes
    # (spark.read.format('warc')): held to u_warc_roundtrip's oracle —
    # JVM lineSep parse and Python DataSource parse share one hash
    # the Python DataSource read is held to the SAME oracle text (the
    # decontaminate_bloom aliasing doctrine): both read paths must
    # byte-agree or one of the two parsers is wrong
    Face("u_warc_datasource", warc_datasource.datasource_roundtrip,
         _warc_rt_sql),
    # WET export: extracted text written back out as Common Crawl's
    # conversion-record format (2-block framing, no HTTP block) and read
    # back — body_md5 pins byte-exact fidelity, refers_to the WARC urn
    # WET conversion records: same formula-oracle doctrine — every
    # column recomputed from documents alone (urn linkage, byte-length
    # Content-Length, md5 of the text that crossed the format)
    Face("u_wet_export", warc.wet_export, """
            SELECT doc_id,
                   'https://' || source || '.example.com/doc/' || doc_id AS target_uri,
                   'urn:doc:' || doc_id AS refers_to,
                   CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
                   CAST(length(text) AS BIGINT) AS n_body_chars,
                   md5(text) AS body_md5
            FROM documents ORDER BY doc_id
        """),
    # WAT export: the metadata member of the WARC/WAT/WET triple —
    # concat-built JSON payload (engine-stable bytes) inside metadata
    # records, read back via get_json_object
    # WAT metadata records: JSON payload fields recomputed from
    # documents alone; uri_consistent pins header-vs-payload agreement
    Face("u_wat_export", warc.wat_export, """
            SELECT doc_id,
                   'https://' || source || '.example.com/doc/' || doc_id AS target_uri,
                   'urn:doc:' || doc_id AS refers_to,
                   lang,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   md5(text) AS digest,
                   TRUE AS uri_consistent
            FROM documents ORDER BY doc_id
        """),
    # WARC revisit records (WARC 1.1 §6.7.2 identical-payload-digest):
    # two-cycle capture stream -> digest-elected dedup on write (later
    # captures of a digest become payload-free revisit records with
    # Refers-To linkage) -> read resolves revisit bodies through the
    # link; digest_ok pins byte-exact resolution, the oracle reruns the
    # SAME min-cap_id election in SQL
    # digest-deduped archive with revisit-record resolution
    Face("u_warc_revisit", warc.revisit_export, _warc_revisit_sql),
    # JSONL interchange round-trip: binary html crosses the text format
    # as base64; text_md5/html_md5 pin byte-exact payload fidelity
    # JSONL round-trip: html synthesized as '<html><body>'||text||...,
    # so both md5 pins are recomputable from documents alone
    Face("u_jsonl_roundtrip", jsonl.roundtrip, """
            SELECT doc_id,
                   'doc://' || source || '/' || doc_id AS url,
                   lang,
                   CAST(length(text) AS BIGINT) AS n_chars_rt,
                   md5(text) AS text_md5,
                   md5('<html><body>' || text || '</body></html>') AS html_md5
            FROM documents ORDER BY doc_id
        """),
    # ORC round-trip: the second columnar interchange format — binary
    # html crosses Spark's native ORC path; hashes held to the
    # documents-only oracle (DuckDB never reads ORC)
    # ORC round trip: same fidelity contract as jsonl — the oracle
    # recomputes both hashes from documents alone
    Face("u_orc_roundtrip", orc.roundtrip, """
            SELECT doc_id,
                   'doc://' || source || '/' || doc_id AS url,
                   lang,
                   CAST(length(text) AS BIGINT) AS n_chars_rt,
                   md5(text) AS text_md5,
                   md5('<html><body>' || text || '</body></html>') AS html_md5
            FROM documents ORDER BY doc_id
        """),
    # SCD2 recrawl history: per-url validity intervals over 4 cycles
    Face("u_scd2_history",
         lambda s, d: SN.scd2_history(
             SN.snapshot_series(read_docs(s, d))
         ),
         f"""
            WITH snaps AS (
                SELECT d.doc_id, ts.snap_ts,
                       md5(d.text || '#' ||
                           ((ts.snap_ts * (d.doc_id % 3)) // 2)) AS fp
                FROM documents d,
                     (SELECT unnest(range(0, {SN.N_SNAPSHOTS})) AS snap_ts) ts
                WHERE (d.doc_id + ts.snap_ts) % 7 <> 0
            ), brks AS (
                SELECT doc_id, snap_ts, fp,
                       CASE WHEN lag(fp) OVER w IS NULL
                                 OR fp <> lag(fp) OVER w
                                 OR snap_ts <> lag(snap_ts) OVER w + 1
                            THEN 1 ELSE 0 END AS brk
                FROM snaps WINDOW w AS (PARTITION BY doc_id ORDER BY snap_ts)
            ), segs AS (
                SELECT *, sum(brk) OVER (
                    PARTITION BY doc_id ORDER BY snap_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
                FROM brks
            )
            SELECT doc_id, CAST(seg AS BIGINT) AS seg,
                   CAST(min(snap_ts) AS BIGINT) AS valid_from,
                   CAST(max(snap_ts) AS BIGINT) AS valid_to,
                   min(fp) AS fp,
                   max(snap_ts) = {SN.N_SNAPSHOTS - 1} AS is_current
            FROM segs GROUP BY doc_id, seg ORDER BY doc_id, seg
        """),
]
