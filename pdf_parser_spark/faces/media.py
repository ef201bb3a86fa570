"""Multimodal faces: byte/MIME sniffing, image dims/EXIF/perceptual hashes,
audio spectral/energy/segments, video shots and frame sampling, and the
near-dup joins over them."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_parser_spark.faces import Face
from pdf_parser_spark.faces.shared import read_docs
from pdf_parser_spark.operators import multimodal


# shared audio-energy CTE chain (WAV synthesis formula -> per-window
# exact square sums), used by m_audio_energy and m_audio_segments
_ae_ctes = f"""w AS (
                SELECT doc_id, 1 + doc_id % 2 AS ch,
                       (200 + doc_id % 100) * (1 + doc_id % 2) AS total
                FROM documents WHERE doc_id % 3 = 1
            ), wins AS (
                SELECT doc_id, ch, total,
                       unnest(range(0, (total + {multimodal.AE_WIN} - 1) // {multimodal.AE_WIN})) AS win_idx
                FROM w
            ), en AS (
                SELECT doc_id, win_idx,
                       least(total - win_idx * {multimodal.AE_WIN}, {multimodal.AE_WIN}) AS n_samps,
                       list_sum(list_transform(
                           list_transform(
                               range(win_idx * {multimodal.AE_WIN},
                                     least(total, win_idx * {multimodal.AE_WIN} + {multimodal.AE_WIN})),
                               j -> ((2 * j * 13 + ch) % 256)
                                  + 256 * (((2 * j + 1) * 13 + ch) % 256)),
                           r -> CASE WHEN r >= 32768
                                     THEN (r - 65536) * (r - 65536)
                                     ELSE r * r END)) AS energy
                FROM wins
            )"""

# spectral peaks: the 32x64 fixed-point cos/sin tables embedded as
# literals; re/im built ONCE per window as lists (linear SQL size),
# mags from the lists, argmax via list_position-of-max (first = lowest
# bin, matching np.argmax)
_spc_rows = [
    "[" + ", ".join(str(v) for v in row) + "]" for row in multimodal.SPEC_C
]

_sps_rows = [
    "[" + ", ".join(str(v) for v in row) + "]" for row in multimodal.SPEC_S
]

_spec_re = ", ".join(
    f"list_sum(list_transform(range(0, {multimodal.SPEC_WIN}), "
    f"n -> x[n+1] * ({_spc_rows[k]})[n+1]))"
    for k in range(multimodal.SPEC_BINS)
)

_spec_im = ", ".join(
    f"list_sum(list_transform(range(0, {multimodal.SPEC_WIN}), "
    f"n -> x[n+1] * ({_sps_rows[k]})[n+1]))"
    for k in range(multimodal.SPEC_BINS)
)

# pHash: the 8x32 fixed-point DCT table embedded as literals (the SAME
# ints multimodal.PHASH_C the Spark kernel uses), one list_sum per kept
# coefficient T[u][v] = sum_i C_u[i//32] * C_v[i%32] * gray[i]
_ph_rows = [
    "[" + ", ".join(str(v) for v in row) + "]" for row in multimodal.PHASH_C
]

_G2 = multimodal.PHASH_GRID * multimodal.PHASH_GRID

_ph_terms = ", ".join(
    f"list_sum(list_transform(range(0, {_G2}), i -> "
    f"({_ph_rows[u]})[i//{multimodal.PHASH_GRID} + 1] * "
    f"({_ph_rows[v]})[i%{multimodal.PHASH_GRID} + 1] * grays[i+1]))"
    for u in range(multimodal.PHASH_LOW) for v in range(multimodal.PHASH_LOW)
)


FACES = [
    Face("m_binary_stats",
         lambda s, d: multimodal.binary_stats(read_docs(s, d)),
         """
            SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                   md5(text) AS checksum
            FROM documents ORDER BY doc_id
        """),
    # magic-byte Content-Type sniff vs the declared header (every
    # MIME_LIE_MOD-th doc declares the wrong type): JVM byte-slice
    # signatures over REAL payload bytes, <= 12 leading bytes per row
    # mime sniff: the oracle re-derives both sides from the doc_id
    # formulas (generator kind = doc_id % 3, lie every MIME_LIE_MOD-th
    # doc) — a byte-offset bug in the Spark sniffer hash-mismatches
    Face("m_mime_sniff",
         lambda s, d: multimodal.mime_sniff(
             multimodal.with_declared_mime(
                 multimodal.synthetic_media(read_docs(s, d)))),
         f"""
            WITH m AS (
                SELECT doc_id, doc_id % 3 AS tk,
                       (doc_id % 3 + CASE WHEN doc_id % {multimodal.MIME_LIE_MOD} = 0
                                          THEN 1 ELSE 0 END) % 3 AS dk
                FROM documents
            )
            SELECT doc_id,
                   CASE dk WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
                        ELSE 'image/ppm' END AS declared,
                   CASE tk WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
                        ELSE 'image/ppm' END AS sniffed,
                   doc_id % {multimodal.MIME_LIE_MOD} = 0 AS mismatch
            FROM m ORDER BY doc_id
        """),
    # header-only PNG/JPEG/GIF dimensions — pure JVM byte expressions
    # (JPEG SOF via a bounded aggregate() marker-walk fold); corrupt
    # payloads (doc_id%13==0) fail soft; -1 = not-applicable (the
    # nullable-int-widens-to-NaN doctrine, same as m_media_features)
    # header-dims twin: the Spark side synthesizes REAL PNG/JPEG/GIF
    # bytes and walks them with JVM expressions; the oracle recomputes
    # the dims from the doc_id synthesis formulas (u_outlinks doctrine
    # — a drift in synthesis OR parser breaks the hash)
    Face("m_image_dims",
         lambda s, d: multimodal.image_dims(
             multimodal.synthetic_web_images(read_docs(s, d))
         ).na.fill({"width": -1, "height": -1}),
         f"""
            SELECT doc_id,
                   CASE WHEN doc_id % {multimodal.IMG_CORRUPT_MOD} = 0 THEN 'unknown'
                        WHEN doc_id % 3 = 0 THEN 'png'
                        WHEN doc_id % 3 = 1 THEN 'jpeg'
                        ELSE 'gif' END AS format,
                   CAST(CASE WHEN doc_id % {multimodal.IMG_CORRUPT_MOD} = 0 THEN -1
                        ELSE 16 + doc_id % 117 END AS BIGINT) AS width,
                   CAST(CASE WHEN doc_id % {multimodal.IMG_CORRUPT_MOD} = 0 THEN -1
                        ELSE 16 + (doc_id * 7) % 93 END AS BIGINT) AS height,
                   doc_id % {multimodal.IMG_CORRUPT_MOD} <> 0 AS ok
            FROM documents ORDER BY doc_id
        """),
    # header-only EXIF (APP1/TIFF IFD0) parse honoring the container's
    # OWN byte order (II/MM both synthesized); -1/'' = not-applicable
    # (the nullable-int-widens-to-NaN doctrine)
    # header-only EXIF parse: the oracle recomputes orientation/make/
    # byte order from the doc_id synthesis formulas, so an endianness
    # or offset bug in the TIFF walk mismatches; '' / -1 mirror the
    # not-applicable fills
    Face("m_exif_meta",
         lambda s, d: multimodal.exif_meta(
             multimodal.synthetic_exif_images(read_docs(s, d))
         ).na.fill({"orientation": -1, "byte_order": "", "make": ""}),
         f"""
            SELECT doc_id,
                   doc_id % {multimodal.IMG_CORRUPT_MOD} <> 0 AND doc_id % 3 <> 2
                       AS has_exif,
                   CASE WHEN doc_id % {multimodal.IMG_CORRUPT_MOD} = 0
                             OR doc_id % 3 = 2 THEN ''
                        WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END
                       AS byte_order,
                   CAST(CASE WHEN doc_id % {multimodal.IMG_CORRUPT_MOD} = 0
                                  OR doc_id % 3 = 2 THEN -1
                             ELSE 1 + doc_id % 8 END AS BIGINT)
                       AS orientation,
                   CASE WHEN doc_id % {multimodal.IMG_CORRUPT_MOD} = 0
                             OR doc_id % 3 = 2 THEN ''
                        ELSE 'Cam' || (doc_id % 5) END AS make
            FROM documents ORDER BY doc_id
        """),
    # orientation-corrected display dims: SOF walk x APP1 walk on ONE
    # byte fleet; orientations 5-8 transpose (-1 = corrupt, no dims)
    # display dims: stored dims from the synthesis formulas, swapped
    # when the %8-derived orientation lands in 5..8 (exif-less %3==2
    # docs keep stored dims; corrupt docs have none)
    Face("m_exif_display_dims",
         lambda s, d: multimodal.exif_display_dims(
             multimodal.synthetic_exif_images(read_docs(s, d))
         ).na.fill({"width": -1, "height": -1}),
         f"""
            WITH syn AS (
                SELECT doc_id,
                       doc_id % {multimodal.IMG_CORRUPT_MOD} = 0 AS corrupt,
                       16 + doc_id % 117 AS w,
                       16 + (doc_id * 7) % 93 AS h,
                       CASE WHEN doc_id % {multimodal.IMG_CORRUPT_MOD} <> 0
                                 AND doc_id % 3 <> 2
                            THEN 1 + doc_id % 8 ELSE 1 END AS ori
                FROM documents
            )
            SELECT doc_id,
                   CAST(CASE WHEN corrupt THEN -1
                        WHEN ori BETWEEN 5 AND 8 THEN h
                        ELSE w END AS BIGINT) AS width,
                   CAST(CASE WHEN corrupt THEN -1
                        WHEN ori BETWEEN 5 AND 8 THEN w
                        ELSE h END AS BIGINT) AS height,
                   ori BETWEEN 5 AND 8 AS rotated
            FROM syn ORDER BY doc_id
        """),
    # multimodal ingest dispatcher: magic-byte sniff -> per-family
    # typed extractors (html title / full pdf layout / png dims / wav
    # fmt), expensive branches filter first
    # ingest dispatcher: kind + per-family detail re-derived from the
    # synthesis arithmetic (pdf branch via make_pdf(doc_id // 4)'s
    # page rule — a wrong route or a broken extractor mismatches)
    Face("m_ingest_dispatch",
         lambda s, d: multimodal.ingest_dispatch(
             multimodal.synthetic_mixed_media(read_docs(s, d))
         ),
         f"""
            SELECT doc_id,
                   CASE WHEN doc_id % {multimodal.DISPATCH_CORRUPT_MOD} = 0
                        THEN 'unknown'
                        WHEN doc_id % 4 = 0 THEN 'html'
                        WHEN doc_id % 4 = 1 THEN 'pdf'
                        WHEN doc_id % 4 = 2 THEN 'image'
                        ELSE 'audio' END AS kind,
                   CASE WHEN doc_id % {multimodal.DISPATCH_CORRUPT_MOD} = 0
                        THEN ''
                        WHEN doc_id % 4 = 0
                        THEN 'title=Doc ' || doc_id || ' of '
                             || (doc_id % 7)
                        WHEN doc_id % 4 = 1
                        THEN 'pages='
                             || (CASE WHEN (doc_id // 4) % 4 = 3
                                      THEN 1 ELSE 2 END)
                             || ';headings='
                             || (CASE WHEN (doc_id // 4) % 4 = 3
                                      THEN 1 ELSE 2 END)
                        WHEN doc_id % 4 = 2
                        THEN 'dims=' || (16 + doc_id % 117) || 'x'
                             || (16 + (doc_id * 7) % 93)
                        ELSE 'ch=' || (1 + doc_id % 2) || ';rate='
                             || (8000 + (doc_id % 3) * 4000) END AS detail
            FROM documents ORDER BY doc_id
        """),
    # real container decode over deterministic BMP/WAV/PPM payloads keyed
    # by doc_id; the oracle recomputes the header fields from the doc_id
    # formulas, so a decode bug (endianness, offset, padding) mismatches
    # the compared view fills non-applicable fields with -1 instead of
    # NULL: a nullable int column widens to float64+NaN through the
    # driver's pandas fetch and can never hash-match (same doctrine as
    # the ISO-string dates elsewhere)
    # perceptual image near-dup: aHash over decoded BMP rasters, group
    # sizes via one window on the 64-bit fingerprint
    # transformed-media evidence recomputed from the synthesis formulas:
    # the resized raster picks source pixel (x2*W//W2, r2*H//H2) whose
    # byte value is arithmetic in its index; decimated PCM keeps every
    # 2nd frame.  A wrong stride, padding, channel order, or floor map
    # in the REAL kernel shifts the integer sum and fails the hash.
    # aHash: the oracle recomputes the 8x8 grid cells straight from the
    # BMP pixel formula (byte j of pixel data = (j*7+bw)%256), same
    # stored-row indexing and src = dst*dim//grid sampling as the
    # engine's decoder; mean threshold strict '>'
    Face("m_image_ahash",
         lambda s, d: multimodal.image_ahash(
             multimodal.synthetic_media(read_docs(s, d))
         ),
         f"""
            WITH p AS (
                SELECT doc_id, 8 + doc_id % 32 AS bw,
                       8 + (doc_id // 3) % 24 AS bh
                FROM documents WHERE doc_id % 3 = 0
            ), q AS (
                SELECT doc_id, bw, bh, ((bw*3+3)//4)*4 AS bs FROM p
            ), cells AS (
                SELECT doc_id,
                       list_transform(range(0, {multimodal.AHASH_GRID ** 2}), i ->
                           ( ((bs*((i//{multimodal.AHASH_GRID})*bh//{multimodal.AHASH_GRID})
                               + 3*((i%{multimodal.AHASH_GRID})*bw//{multimodal.AHASH_GRID}))*7
                              + bw) % 256
                           + ((bs*((i//{multimodal.AHASH_GRID})*bh//{multimodal.AHASH_GRID})
                               + 3*((i%{multimodal.AHASH_GRID})*bw//{multimodal.AHASH_GRID})
                               + 1)*7 + bw) % 256
                           + ((bs*((i//{multimodal.AHASH_GRID})*bh//{multimodal.AHASH_GRID})
                               + 3*((i%{multimodal.AHASH_GRID})*bw//{multimodal.AHASH_GRID})
                               + 2)*7 + bw) % 256 ) // 3) AS grays
                FROM q
            ), m AS (
                SELECT doc_id, grays,
                       list_sum(grays) // {multimodal.AHASH_GRID ** 2} AS mn
                FROM cells
            ), hx AS (
                SELECT doc_id,
                       array_to_string(list_transform(grays, v ->
                           CASE WHEN v > mn THEN '1' ELSE '0' END), '') AS ahash
                FROM m
            )
            SELECT doc_id, ahash,
                   CAST(count(*) OVER (PARTITION BY ahash) AS BIGINT) AS n_same
            FROM hx ORDER BY doc_id
        """),
    # gradient (difference) hash: LOCAL left-vs-right bits on an 8x9
    # grid — survives the global-mean shifts that flip aHash bits;
    # shares the pixel sampler with aHash
    # dhash: same pixel formula sampled on the 8x9 grid, bits =
    # strict right-neighbor comparisons (DuckDB lists are 1-indexed)
    Face("m_image_dhash",
         lambda s, d: multimodal.image_dhash(
             multimodal.synthetic_media(read_docs(s, d))
         ),
         f"""
            WITH p AS (
                SELECT doc_id, 8 + doc_id % 32 AS bw,
                       8 + (doc_id // 3) % 24 AS bh
                FROM documents WHERE doc_id % 3 = 0
            ), q AS (
                SELECT doc_id, bw, bh, ((bw*3+3)//4)*4 AS bs FROM p
            ), cells AS (
                SELECT doc_id,
                       list_transform(range(0, {multimodal.AHASH_GRID
                                              * (multimodal.AHASH_GRID + 1)}), i ->
                           ( ((bs*((i//{multimodal.AHASH_GRID + 1})*bh
                                   //{multimodal.AHASH_GRID})
                               + 3*((i%{multimodal.AHASH_GRID + 1})*bw
                                    //{multimodal.AHASH_GRID + 1}))*7
                              + bw) % 256
                           + ((bs*((i//{multimodal.AHASH_GRID + 1})*bh
                                   //{multimodal.AHASH_GRID})
                               + 3*((i%{multimodal.AHASH_GRID + 1})*bw
                                    //{multimodal.AHASH_GRID + 1})
                               + 1)*7 + bw) % 256
                           + ((bs*((i//{multimodal.AHASH_GRID + 1})*bh
                                   //{multimodal.AHASH_GRID})
                               + 3*((i%{multimodal.AHASH_GRID + 1})*bw
                                    //{multimodal.AHASH_GRID + 1})
                               + 2)*7 + bw) % 256 ) // 3) AS grays
                FROM q
            ), hx AS (
                SELECT doc_id,
                       array_to_string(list_transform(
                           range(0, {multimodal.AHASH_GRID ** 2}), j ->
                           CASE WHEN grays[(j//{multimodal.AHASH_GRID})
                                           *{multimodal.AHASH_GRID + 1}
                                           + (j%{multimodal.AHASH_GRID}) + 2]
                                     > grays[(j//{multimodal.AHASH_GRID})
                                             *{multimodal.AHASH_GRID + 1}
                                             + (j%{multimodal.AHASH_GRID}) + 1]
                                THEN '1' ELSE '0' END), '') AS dhash
                FROM cells
            )
            SELECT doc_id, dhash,
                   CAST(count(*) OVER (PARTITION BY dhash) AS BIGINT)
                       AS n_same
            FROM hx ORDER BY doc_id
        """),
    # per-window dominant-frequency bin via integer DFT (fixed-point
    # trig tables shared with the oracle; constellation primitive)
    # spectral peaks: the synthesis sample formula (the _ae_ctes byte
    # rule) fed through the embedded-table integer DFT; full windows
    # only, first-max tie-break = lowest bin
    Face("m_audio_spectral",
         lambda s, d: multimodal.audio_spectral_peaks(
             multimodal.synthetic_media(read_docs(s, d))
         ),
         f"""
            WITH w AS (
                SELECT doc_id, 1 + doc_id % 2 AS ch,
                       (200 + doc_id % 100) * (1 + doc_id % 2) AS total
                FROM documents WHERE doc_id % 3 = 1
            ), wins AS (
                SELECT doc_id, ch,
                       unnest(range(0, total // {multimodal.SPEC_WIN})) AS win_idx
                FROM w
            ), xs AS (
                SELECT doc_id, win_idx,
                       list_transform(
                           range(win_idx * {multimodal.SPEC_WIN},
                                 win_idx * {multimodal.SPEC_WIN} + {multimodal.SPEC_WIN}),
                           j -> CASE WHEN ((2*j*13 + ch) % 256)
                                      + 256 * (((2*j+1)*13 + ch) % 256)
                                      >= 32768
                                THEN ((2*j*13 + ch) % 256)
                                     + 256 * (((2*j+1)*13 + ch) % 256)
                                     - 65536
                                ELSE ((2*j*13 + ch) % 256)
                                     + 256 * (((2*j+1)*13 + ch) % 256)
                                END) AS x
                FROM wins
            ), ri AS (
                SELECT doc_id, win_idx,
                       [{_spec_re}] AS re, [{_spec_im}] AS im
                FROM xs
            ), mg AS (
                SELECT doc_id, win_idx,
                       list_transform(range(0, {multimodal.SPEC_BINS}),
                           k -> re[k+1]*re[k+1] + im[k+1]*im[k+1]) AS mags
                FROM ri
            )
            SELECT doc_id, CAST(win_idx AS INT) AS win_idx,
                   CAST(list_position(mags, list_max(mags)) AS INT)
                       AS peak_bin,
                   CAST(list_max(mags) AS BIGINT) AS peak_mag2
            FROM mg ORDER BY doc_id, win_idx
        """),
    # DCT (spectral) hash: exact-integer unnormalized DCT-II over a
    # 32x32 sample, 8x8 low-freq block thresholded on its lower
    # median — the brightness/blur-robust third fingerprint; the
    # fixed-point cosine table is shared verbatim with the oracle
    # phash: same pixel formula sampled on the 32x32 grid, exact
    # integer DCT via the embedded fixed-point table, lower-median
    # threshold over the 8x8 low-frequency block
    Face("m_image_phash",
         lambda s, d: multimodal.image_phash(
             multimodal.synthetic_media(read_docs(s, d))
         ),
         f"""
            WITH p AS (
                SELECT doc_id, 8 + doc_id % 32 AS bw,
                       8 + (doc_id // 3) % 24 AS bh
                FROM documents WHERE doc_id % 3 = 0
            ), q AS (
                SELECT doc_id, bw, bh, ((bw*3+3)//4)*4 AS bs FROM p
            ), cells AS (
                SELECT doc_id,
                       list_transform(range(0, {_G2}), i ->
                           ( ((bs*((i//{multimodal.PHASH_GRID})*bh//{multimodal.PHASH_GRID})
                               + 3*((i%{multimodal.PHASH_GRID})*bw//{multimodal.PHASH_GRID}))*7
                              + bw) % 256
                           + ((bs*((i//{multimodal.PHASH_GRID})*bh//{multimodal.PHASH_GRID})
                               + 3*((i%{multimodal.PHASH_GRID})*bw//{multimodal.PHASH_GRID})
                               + 1)*7 + bw) % 256
                           + ((bs*((i//{multimodal.PHASH_GRID})*bh//{multimodal.PHASH_GRID})
                               + 3*((i%{multimodal.PHASH_GRID})*bw//{multimodal.PHASH_GRID})
                               + 2)*7 + bw) % 256 ) // 3) AS grays
                FROM q
            ), t AS (
                SELECT doc_id, [{_ph_terms}] AS tt FROM cells
            ), m AS (
                SELECT doc_id, tt,
                       list_sort(tt)[{multimodal.PHASH_LOW ** 2 // 2}] AS med
                FROM t
            ), hx AS (
                SELECT doc_id,
                       array_to_string(list_transform(tt, v ->
                           CASE WHEN v > med THEN '1' ELSE '0' END), '')
                           AS phash
                FROM m
            )
            SELECT doc_id, phash,
                   CAST(count(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same
            FROM hx ORDER BY doc_id
        """),
    # perceptual near-dup PAIRS (Manku WWW'07 banding on the image
    # hash): originals + overlay-edited copies, 4 x 16-bit band
    # equi-joins for candidates, exact Hamming filter JVM-side
    # near-dup pairs: BOTH fingerprints recomputed from the pixel
    # formula (copy = grid-row-0 cells forced to the mid-gray fill),
    # then the SAME banding join + position-wise Hamming in SQL
    Face("m_image_neardup",
         lambda s, d: multimodal.image_neardup(
             multimodal.synthetic_media(read_docs(s, d))
         ),
         f"""
            WITH p AS (
                SELECT doc_id, 8 + doc_id % 32 AS bw,
                       8 + (doc_id // 3) % 24 AS bh
                FROM documents WHERE doc_id % 3 = 0
            ), q AS (
                SELECT doc_id, bw, bh, ((bw*3+3)//4)*4 AS bs FROM p
            ), caps AS (
                SELECT CAST(doc_id AS BIGINT) AS cap_id, bw, bh, bs,
                       0 AS edited
                FROM q
                UNION ALL
                SELECT CAST(doc_id + {multimodal.IMG_COPY_OFFSET} AS BIGINT),
                       bw, bh, bs, 1
                FROM q
            ), cells AS (
                SELECT cap_id,
                       list_transform(range(0, {multimodal.AHASH_GRID ** 2}), i ->
                           CASE WHEN edited = 1 AND i // {multimodal.AHASH_GRID} = 0
                                THEN {multimodal.IMG_OVERLAY_FILL}
                           ELSE
                           ( ((bs*((i//{multimodal.AHASH_GRID})*bh//{multimodal.AHASH_GRID})
                               + 3*((i%{multimodal.AHASH_GRID})*bw//{multimodal.AHASH_GRID}))*7
                              + bw) % 256
                           + ((bs*((i//{multimodal.AHASH_GRID})*bh//{multimodal.AHASH_GRID})
                               + 3*((i%{multimodal.AHASH_GRID})*bw//{multimodal.AHASH_GRID})
                               + 1)*7 + bw) % 256
                           + ((bs*((i//{multimodal.AHASH_GRID})*bh//{multimodal.AHASH_GRID})
                               + 3*((i%{multimodal.AHASH_GRID})*bw//{multimodal.AHASH_GRID})
                               + 2)*7 + bw) % 256 ) // 3
                           END) AS grays
                FROM caps
            ), m AS (
                SELECT cap_id, grays,
                       list_sum(grays) // {multimodal.AHASH_GRID ** 2} AS mn
                FROM cells
            ), hx AS (
                SELECT cap_id,
                       array_to_string(list_transform(grays, v ->
                           CASE WHEN v > mn THEN '1' ELSE '0' END), '') AS ahash
                FROM m
            ), bands AS (
                SELECT cap_id, ahash, b,
                       substr(ahash, CAST(1 + {64 // multimodal.NEARDUP_BANDS} * b
                                          AS INT),
                              {64 // multimodal.NEARDUP_BANDS}) AS bits
                FROM hx, (SELECT unnest(range(0, {multimodal.NEARDUP_BANDS})) AS b)
            ), cand AS (
                SELECT DISTINCT a.cap_id AS cap_a, c.cap_id AS cap_b,
                       a.ahash AS ha, c.ahash AS hb
                FROM bands a JOIN bands c
                  ON a.b = c.b AND a.bits = c.bits AND a.cap_id < c.cap_id
            ), sc AS (
                SELECT cap_a, cap_b,
                       CAST(list_sum(list_transform(range(1, 65), pp ->
                           CASE WHEN substr(ha, CAST(pp AS INT), 1)
                                   = substr(hb, CAST(pp AS INT), 1)
                                THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
                FROM cand
            )
            SELECT cap_a, cap_b, hamming,
                   cap_b - cap_a = {multimodal.IMG_COPY_OFFSET} AS is_copy_pair
            FROM sc WHERE hamming <= {multimodal.NEARDUP_MAX_HAMMING}
            ORDER BY cap_a, cap_b
        """),
    # windowed PCM energy / silence segmentation (the VAD primitive):
    # engine walks REAL RIFF chunks and square-sums int16 windows in
    # numpy; exact-BIGINT energies, integer silence compare
    # media decode: the Spark side PARSES real BMP/WAV/PPM bytes built
    # from doc_id; the oracle re-derives every header field from the
    # same doc_id arithmetic (multimodal.synthetic_media_payload), so
    # the decode path is what the hash actually verifies
    # windowed PCM energy: the oracle rebuilds every int16 from the WAV
    # synthesis formula (data byte i = (i*13 + ch) % 256, sample j =
    # little-endian signed pair at 2j/2j+1) and square-sums the same
    # AE_WIN-sample windows — a chunk-walk or endianness bug in the
    # engine's real-bytes parse mismatches every energy
    Face("m_audio_energy",
         lambda s, d: multimodal.audio_energy(
             multimodal.synthetic_media(read_docs(s, d))
         ),
         f"""
            WITH {_ae_ctes}
            SELECT doc_id, CAST(win_idx AS INT) AS win_idx,
                   CAST(n_samps AS INT) AS n_samps,
                   CAST(energy AS BIGINT) AS energy,
                   energy < {multimodal.AE_SIL_MEANSQ} * n_samps AS is_silence
            FROM en ORDER BY doc_id, win_idx
        """),
    # VAD segments: gaps-and-islands over the shared detector pass
    # VAD segments: lag + cumulative-flag-change islands over the SAME
    # en CTE (shared fragment — detector and consumer cannot drift)
    Face("m_audio_segments",
         lambda s, d: multimodal.audio_segments(
             multimodal.synthetic_media(read_docs(s, d))
         ),
         f"""
            WITH {_ae_ctes},
            v AS (
                SELECT doc_id, win_idx, energy,
                       energy < {multimodal.AE_SIL_MEANSQ} * n_samps AS sil
                FROM en
            ), chg AS (
                SELECT doc_id, win_idx, energy, sil,
                       CASE WHEN lag(sil) OVER w IS NULL
                             OR lag(sil) OVER w <> sil THEN 1 ELSE 0 END AS c
                FROM v WINDOW w AS (PARTITION BY doc_id ORDER BY win_idx)
            ), segs AS (
                SELECT doc_id, win_idx, energy, sil,
                       sum(c) OVER (PARTITION BY doc_id ORDER BY win_idx
                                    ROWS UNBOUNDED PRECEDING) AS seg
                FROM chg
            )
            SELECT doc_id, CAST(seg - 1 AS INT) AS seg_idx,
                   min(sil) AS is_silence,
                   CAST(min(win_idx) AS INT) AS win_start,
                   CAST(max(win_idx) AS INT) AS win_end,
                   CAST(count(*) AS BIGINT) AS n_windows,
                   CAST(sum(energy) AS BIGINT) AS energy_sum
            FROM segs GROUP BY doc_id, seg ORDER BY doc_id, seg_idx
        """),
    Face("m_media_features",
         lambda s, d: multimodal.media_features(
             multimodal.synthetic_media(read_docs(s, d))
         ).select(
             "doc_id", "media_type", "byte_len",
             F.coalesce("width", F.lit(-1)).alias("width"),
             F.coalesce("height", F.lit(-1)).alias("height"),
             F.coalesce("n_channels", F.lit(-1)).alias("n_channels"),
             F.coalesce("sample_rate", F.lit(-1)).alias("sample_rate"),
             F.coalesce("duration_ms", F.lit(-1).cast("long")).alias("duration_ms"),
         ).orderBy("doc_id"),
         """
            WITH m AS (
                SELECT doc_id, doc_id % 3 AS kind,
                       8 + doc_id % 32 AS bw, 8 + (doc_id // 3) % 24 AS bh,
                       1 + doc_id % 2 AS ch, 8000 * (1 + doc_id % 3) AS rate,
                       200 + doc_id % 100 AS ns,
                       4 + doc_id % 16 AS pw, 4 + (doc_id // 5) % 16 AS ph
                FROM documents)
            SELECT doc_id,
                   CASE kind WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
                             ELSE 'image/ppm' END AS media_type,
                   CAST(CASE kind
                        WHEN 0 THEN 54 + ((bw * 3 + 3) // 4) * 4 * bh
                        WHEN 1 THEN 44 + ns * ch * 2
                        ELSE 9 + length(CAST(pw AS VARCHAR))
                               + length(CAST(ph AS VARCHAR)) + 3 * pw * ph
                        END AS BIGINT) AS byte_len,
                   CAST(CASE kind WHEN 0 THEN bw WHEN 2 THEN pw ELSE -1 END AS INT) AS width,
                   CAST(CASE kind WHEN 0 THEN bh WHEN 2 THEN ph ELSE -1 END AS INT) AS height,
                   CAST(CASE WHEN kind = 1 THEN ch ELSE -1 END AS INT) AS n_channels,
                   CAST(CASE WHEN kind = 1 THEN rate ELSE -1 END AS INT) AS sample_rate,
                   CAST(CASE WHEN kind = 1 THEN (ns * 1000) // rate ELSE -1 END AS BIGINT)
                       AS duration_ms
            FROM m ORDER BY doc_id
        """),
    # real transform kernels over real container bytes: nearest-neighbor
    # image resize + 2x audio decimation; data_sum is the exact integer
    # byte-sum of the TRANSFORMED raster/PCM, recomputed by the oracle
    # from the synthesis formulas (payload column dropped — the integer
    # evidence is the cross-engine face; the bytes round-trip in pytest)
    Face("m_transform",
         lambda s, d: multimodal.transform_media(
             multimodal.synthetic_media(read_docs(s, d))
         ).select(
             "doc_id", "media_type", "out_w", "out_h", "out_rate",
             "n_units", "data_sum", "out_len",
         ).orderBy("doc_id"),
         """
            WITH p AS (
                SELECT doc_id, doc_id % 3 AS kind,
                       8 + doc_id % 32 AS bw, 8 + (doc_id // 3) % 24 AS bh,
                       1 + doc_id % 2 AS c, 8000 * (1 + doc_id % 3) AS r,
                       200 + doc_id % 100 AS ns,
                       4 + doc_id % 16 AS pw, 4 + (doc_id // 5) % 16 AS ph
                FROM documents
            ), q AS (
                SELECT *, ((bw*3+3)//4)*4 AS bs, bw//2 AS bw2, bh//2 AS bh2,
                       (ns+1)//2 AS nout, pw//2 AS pw2, ph//2 AS ph2
                FROM p
            )
            SELECT doc_id,
                   CASE kind WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
                        ELSE 'image/ppm' END AS media_type,
                   CAST(CASE kind WHEN 0 THEN bw2 WHEN 2 THEN pw2 ELSE -1 END AS INT) AS out_w,
                   CAST(CASE kind WHEN 0 THEN bh2 WHEN 2 THEN ph2 ELSE -1 END AS INT) AS out_h,
                   CAST(CASE kind WHEN 1 THEN r // 2 ELSE -1 END AS INT) AS out_rate,
                   CAST(CASE kind WHEN 0 THEN bw2*bh2 WHEN 1 THEN nout
                        ELSE pw2*ph2 END AS BIGINT) AS n_units,
                   CAST(CASE kind
                        WHEN 0 THEN list_sum(list_transform(range(0, bh2*bw2*3), j ->
                            ((bs*((j//(bw2*3))*bh//bh2)
                              + 3*(((j%(bw2*3))//3)*bw//bw2)
                              + ((j%(bw2*3))%3))*7 + bw) % 256))
                        WHEN 1 THEN list_sum(list_transform(range(0, nout*2*c), j ->
                            ((2*(j//(2*c))*2*c + (j%(2*c)))*13 + c) % 256))
                        ELSE list_sum(list_transform(range(0, ph2*pw2*3), j ->
                            ((3*pw*((j//(pw2*3))*ph//ph2)
                              + 3*(((j%(pw2*3))//3)*pw//pw2)
                              + ((j%(pw2*3))%3))*11 + ph) % 256))
                        END AS BIGINT) AS data_sum,
                   CAST(CASE kind
                        WHEN 0 THEN 54 + ((bw2*3+3)//4)*4*bh2
                        WHEN 1 THEN 44 + nout*2*c
                        ELSE 9 + length(CAST(pw2 AS VARCHAR))
                             + length(CAST(ph2 AS VARCHAR)) + 3*pw2*ph2
                        END AS BIGINT) AS out_len
            FROM q ORDER BY doc_id
        """),
    # real frame sampling over concatenated-P6 streams (ffmpeg
    # image2pipe wire format): every 2nd frame re-emitted standalone
    # shot-boundary detection: per consecutive-frame SAD over real P6
    # streams, exact-integer verdicts (audio_energy doctrine on video)
    Face("m_shot_detect",
         lambda s, d: multimodal.shot_boundaries(
             multimodal.synthetic_video(read_docs(s, d))
         ),
         f"""
            WITH p AS (
                SELECT doc_id, 4 + doc_id % 8 AS w, 4 + (doc_id // 7) % 8 AS h,
                       3 + doc_id % 4 AS nf
                FROM documents
            ), fr AS (
                SELECT doc_id, 3 * w * h AS npx, unnest(range(1, nf)) AS fi
                FROM p
            ), s AS (
                SELECT doc_id, fi, npx,
                       npx + 254 * len(list_filter(range(0, npx),
                           i -> (i * 11 + doc_id + fi - 1) % 256 = 255)) AS sad
                FROM fr
            )
            SELECT doc_id, CAST(fi AS INT) AS frame_index,
                   CAST(npx AS BIGINT) AS n_px, CAST(sad AS BIGINT) AS sad,
                   sad > {multimodal.SHOT_MEANDIFF} * npx AS is_cut
            FROM s ORDER BY doc_id, frame_index
        """),
    # video near-dup: frame-fingerprint containment over originals +
    # trimmed reposts (postings join on shared frame hashes)
    # video near-dup: per-frame aHash recomputed from the seeded-P6
    # formula for original + trimmed capture sets, postings join +
    # containment fold in SQL
    Face("m_video_neardup",
         lambda s, d: multimodal.video_neardup(
             multimodal.synthetic_video(read_docs(s, d))
         ),
         f"""
            WITH p AS (
                SELECT doc_id, 4 + doc_id % 8 AS w, 4 + (doc_id // 7) % 8 AS h,
                       3 + doc_id % 4 AS nf
                FROM documents
            ), caps AS (
                SELECT CAST(doc_id AS BIGINT) AS cap_id, doc_id, w, h, nf,
                       0 AS ff
                FROM p
                UNION ALL
                SELECT CAST(doc_id + {multimodal.VID_COPY_OFFSET} AS BIGINT),
                       doc_id, w, h, nf, 1
                FROM p WHERE nf >= 2
            ), fr AS (
                SELECT cap_id, doc_id, w, h, unnest(range(ff, nf)) AS f
                FROM caps
            ), gr AS (
                SELECT cap_id, f,
                       list_transform(range(0, {multimodal.AHASH_GRID ** 2}), i ->
                           ( ((3*(((i//{multimodal.AHASH_GRID})*h//{multimodal.AHASH_GRID})*w
                                  + ((i%{multimodal.AHASH_GRID})*w//{multimodal.AHASH_GRID}))
                               )*11 + doc_id + f) % 256
                           + ((3*(((i//{multimodal.AHASH_GRID})*h//{multimodal.AHASH_GRID})*w
                                  + ((i%{multimodal.AHASH_GRID})*w//{multimodal.AHASH_GRID}))
                               + 1)*11 + doc_id + f) % 256
                           + ((3*(((i//{multimodal.AHASH_GRID})*h//{multimodal.AHASH_GRID})*w
                                  + ((i%{multimodal.AHASH_GRID})*w//{multimodal.AHASH_GRID}))
                               + 2)*11 + doc_id + f) % 256 ) // 3) AS g
                FROM fr
            ), m AS (
                SELECT cap_id, f, g,
                       list_sum(g) // {multimodal.AHASH_GRID ** 2} AS mn
                FROM gr
            ), hx AS (
                SELECT DISTINCT cap_id,
                       array_to_string(list_transform(g, v ->
                           CASE WHEN v > mn THEN '1' ELSE '0' END), '')
                           AS fhash
                FROM m
            ), counts AS (
                SELECT cap_id, CAST(count(*) AS BIGINT) AS n
                FROM hx GROUP BY cap_id
            ), shared AS (
                SELECT a.cap_id AS cap_a, b.cap_id AS cap_b,
                       CAST(count(*) AS BIGINT) AS n_shared
                FROM hx a JOIN hx b
                  ON a.fhash = b.fhash AND a.cap_id < b.cap_id
                GROUP BY 1, 2
            )
            SELECT s.cap_a, s.cap_b, s.n_shared,
                   ca.n AS n_a, cb.n AS n_b,
                   CAST((10000 * s.n_shared) // least(ca.n, cb.n) AS BIGINT)
                       AS contain_bp,
                   s.cap_b - s.cap_a = {multimodal.VID_COPY_OFFSET} AS is_trim_pair
            FROM shared s
            JOIN counts ca ON ca.cap_id = s.cap_a
            JOIN counts cb ON cb.cap_id = s.cap_b
            WHERE (10000 * s.n_shared) // least(ca.n, cb.n)
                  >= {multimodal.VID_CONTAIN_BP}
            ORDER BY s.cap_a, s.cap_b
        """),
    # audio near-dup: window-energy fingerprint containment over tone
    # WAVs + head-trimmed reposts; the fingerprint stage IS the audited
    # audio_energy kernel (real RIFF parsing on real written bytes)
    # sampled frames recomputed from the stream-synthesis formulas:
    # frame f of doc d has raster byte i = (i*11 + d + f) % 256 and
    # dims (4+d%8, 4+(d//7)%8); sampling keeps frames 0,2,4,...
    # shot detection: the synthesis shifts every raster byte by +1 per
    # frame, so |diff| is 1 except at the 255->0 wrap — sad = n_px +
    # 254 * wrap_count, recomputed exactly from the seed formula; a
    # parse/pairing bug in the engine's real-bytes walk mismatches
    # audio near-dup: window energies recomputed from the tone formula
    # (sample j = (j*j*7 + doc*13) % 4096 - 2048) for original + head-
    # trimmed capture sets — the trim is exactly one analysis window,
    # so copy windows re-chunk onto original windows 1.. — then the
    # same postings join + containment fold as the video face
    Face("m_audio_neardup",
         lambda s, d: multimodal.audio_neardup(
             read_docs(s, d)
         ),
         f"""
            WITH a AS (
                SELECT doc_id,
                       CAST({multimodal.AUD_TONE_N} + doc_id % 100 AS BIGINT) AS n
                FROM documents WHERE doc_id % 3 = 1
            ), caps AS (
                SELECT doc_id, doc_id AS cap_id, CAST(0 AS BIGINT) AS skip, n
                FROM a
                UNION ALL
                SELECT doc_id, doc_id + {multimodal.AUD_COPY_OFFSET} AS cap_id,
                       CAST(1 AS BIGINT) AS skip, n
                FROM a WHERE n > {multimodal.AE_WIN}
            ), wins AS (
                SELECT cap_id, doc_id, skip, n,
                       unnest(range(0, CAST((n - skip * {multimodal.AE_WIN}
                                             + {multimodal.AE_WIN - 1})
                                            // {multimodal.AE_WIN} AS BIGINT))) AS w
                FROM caps
            ), aen AS (
                SELECT cap_id,
                       list_sum(list_transform(
                           range(CAST((skip + w) * {multimodal.AE_WIN} AS BIGINT),
                                 CAST(least(n, (skip + w + 1) * {multimodal.AE_WIN})
                                      AS BIGINT)),
                           j -> ((j*j*7 + doc_id*13) % 4096 - 2048)
                              * ((j*j*7 + doc_id*13) % 4096 - 2048)))
                           AS energy
                FROM wins
            ), fps AS (
                SELECT DISTINCT cap_id, energy FROM aen
            ), cnt AS (
                SELECT cap_id, count(*) AS n FROM fps GROUP BY cap_id
            ), shr AS (
                SELECT fa.cap_id AS cap_a, fb.cap_id AS cap_b,
                       count(*) AS n_shared
                FROM fps fa JOIN fps fb
                  ON fa.energy = fb.energy AND fa.cap_id < fb.cap_id
                GROUP BY 1, 2
            )
            SELECT s.cap_a, s.cap_b, CAST(s.n_shared AS BIGINT) AS n_shared,
                   CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
                   CAST((10000 * s.n_shared) // least(ca.n, cb.n) AS BIGINT)
                       AS contain_bp,
                   s.cap_b - s.cap_a = {multimodal.AUD_COPY_OFFSET} AS is_trim_pair
            FROM shr s JOIN cnt ca ON ca.cap_id = s.cap_a
                       JOIN cnt cb ON cb.cap_id = s.cap_b
            WHERE (10000 * s.n_shared) // least(ca.n, cb.n)
                  >= {multimodal.AUD_CONTAIN_BP}
            ORDER BY s.cap_a, s.cap_b
        """),
    Face("m_frame_sample",
         lambda s, d: multimodal.sample_ppm_frames(
             multimodal.synthetic_video(read_docs(s, d))
         ).select(
             "doc_id", "frame_index", "n_frames", "width", "height",
             "data_sum", "frame_len",
         ).orderBy("doc_id", "frame_index"),
         f"""
            WITH p AS (
                SELECT doc_id, 4 + doc_id % 8 AS w, 4 + (doc_id // 7) % 8 AS h,
                       3 + doc_id % 4 AS nf
                FROM documents
            ), fr AS (
                -- every Nth frame, capped at max_frames kept frames — the
                -- knobs interpolate from multimodal so the cap can't drift
                SELECT doc_id, w, h, nf,
                       unnest(range(0,
                           least(nf, {multimodal.SAMPLE_EVERY_DEFAULT}
                                     * {multimodal.MAX_FRAMES_DEFAULT}),
                           {multimodal.SAMPLE_EVERY_DEFAULT})) AS fi
                FROM p
            )
            SELECT doc_id, CAST(fi AS BIGINT) AS frame_index,
                   CAST(nf AS BIGINT) AS n_frames,
                   CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(list_sum(list_transform(range(0, 3*w*h), i ->
                        (i*11 + doc_id + fi) % 256)) AS BIGINT) AS data_sum,
                   CAST(9 + length(CAST(w AS VARCHAR))
                        + length(CAST(h AS VARCHAR)) + 3*w*h AS BIGINT) AS frame_len
            FROM fr ORDER BY doc_id, frame_index
        """),
]
