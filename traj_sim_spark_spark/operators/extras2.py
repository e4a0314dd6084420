"""Second extras batch — round-2 continuation coverage extensions.

Operators that round out the curation / spatial / graph / series /
multimodal / relational families with shapes the earlier rows don't
cover:

- ``text_boilerplate``    — CROSS-document duplicate-shingle mass per
  doc (the C4-style boilerplate gate). ``text_repetition`` measures
  intra-doc repetition; this row measures how much of each document is
  text shared with OTHER documents — the complementary quality signal.
- ``mm_phash_nn``         — perceptual-hash nearest neighbor for the
  multimodal (binary) column: block-average hash (aHash family) over
  the decoded byte stream, 8 x 8-bit LSH bands, candidate = any shared
  band, exact Hamming re-rank to each doc's top-1 neighbor.
- ``traj_grid_dbscan``    — density-based spatial clustering (grid
  DBSCAN): eps-cells with >= minPts points are core; clusters are
  connected components over the 8-neighborhood of core cells. The
  grid analog of DBSCAN that actually scales — no point-to-point
  eps-joins, density decided per cell by one hash aggregate.
- ``rel_seasonal_anomaly``— hour-of-day DEseasonalized z-score
  anomalies per event type (the seasonal sibling of the daily
  ``rel_anomaly_mad``): exact integer sufficient statistics per
  (type, hour) profile, one final float z for display.
- ``graph_modularity``    — Newman modularity of a value-band node
  partition over the co-movement graph: per-community internal-edge
  and degree mass, Q-contribution per community. Unlike the CC rows,
  the partition here is independent of the edges, so the statistic is
  non-degenerate (D_c != 2 L_c).
- ``pipe_quality_prune``  — the composite curation AUDIT: per-doc
  keep/drop verdict with the first failing rule as reason code.
- ``traj_segment_intersections`` / ``traj_self_intersections`` —
  segment GEOMETRY at reference fidelity (R6/R15): exact INT64
  four-orientation CCW crossing tests; cross-user path conflicts via
  day-bucketed canonical-cell pair joins, per-trajectory tortuosity
  via self-crossings in the Takens (v_{i-1}, v_i) phase space.
- ``mm_scene_cuts``       — frame-energy shot-boundary detection over
  binary payloads (the temporal half of the video curation story).
- ``rel_merge_upsert``    — the lakehouse MERGE / CDC apply: one
  full-outer join + CASE router, per-action audit counts.
- ``graph_copurchase``    — bipartite projection (A^T A co-occurrence)
  with shared-customer weights and exact-integer Jaccard affinity.

Exactness discipline (house rules, see ``series.py``): every comparison
that decides MEMBERSHIP of the result set is integer-exact (centi-unit
quantized values, cross-multiplied variance tests, bit-exact hashes);
floats appear only in displayed columns as one final expression over
exact integers, written with the same operation order in the Spark and
DuckDB forms.

Scale notes: boilerplate = two hash aggregates + one equi-join keyed on
the shingle (fan-out 1: the DF side is pre-aggregated to one row per
shingle); phash = Arrow-batched decode + an LSH band bucket join (at
production corpus sizes the band width widens from 8 to 16+ bits so
bucket occupancy stays bounded — same argument as ``emb_neardup_lsh``);
grid DBSCAN = one aggregate over points, then CC over the (tiny) dense-
cell graph via the shared min-label-propagation engine; seasonal/
modularity = linear aggregates, the graph reusing the session-shared
co-movement edge artifact.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import query
from ..tables import Tables
from .planes import corpus_t0, points

# --------------------------------------------------------------------------
# text_boilerplate
# --------------------------------------------------------------------------

_BP_N = 4  # shingle width (words)
_BP_DF = 2  # boilerplate = shingle appearing in >= this many distinct docs


@query(
    "text_boilerplate",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, lang,
               array_to_string(list_slice(toks, i, i + {_BP_N - 1}), ' ')
                   AS shingle
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
              FROM documents),
             LATERAL (SELECT UNNEST(generate_series(
                 1, len(toks) - {_BP_N - 1})) AS i)
        WHERE len(toks) >= {_BP_N}
    ),
    df AS (
        SELECT shingle, COUNT(DISTINCT doc_id) AS d
        FROM sh GROUP BY shingle
    ),
    per AS (
        SELECT sh.doc_id, sh.lang,
               COUNT(*) AS n_shingles,
               COUNT(*) FILTER (df.d >= {_BP_DF}) AS n_shared
        FROM sh JOIN df USING (shingle)
        GROUP BY 1, 2
    )
    SELECT doc_id, lang,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_shared AS BIGINT) AS n_shared,
           ROUND(n_shared * 1.0 / n_shingles, 6) AS shared_frac
    FROM per
    """,
)
def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate mass: for each document, the fraction
    of its word 4-gram positions whose shingle also occurs in at least
    one OTHER document (corpus document frequency >= 2) — the C4/RefinedWeb
    "duplicated text" quality signal, complementary to the intra-doc
    ``text_repetition`` row.

    Shape: shingle explode (JVM higher-order functions, no UDF) -> one
    hash aggregate for document frequency -> equi-join back on the
    shingle string (the DF side is one row per shingle, so per-position
    fan-out is exactly 1 — no pair explosion, unlike a doc-doc join) ->
    one per-doc aggregate. Linear in total shingle positions at any
    corpus size; the shingle key is content-hashed by the shuffle, so
    hot shingles spread by value, not by document. The exploded shingle
    table is localCheckpoint-ed once (the ``traj_grid_dbscan`` dense-
    cell move): both sides of the self-referencing aggregate+join read
    the materialized explode instead of recomputing the dominant stage
    twice."""
    from .text_ext import _word_shingles

    t = Tables(spark, sf_dir)
    sh = (
        _word_shingles(t.documents, _BP_N)
        .select("doc_id", "lang", "shingle")
        .localCheckpoint()
    )
    df = sh.groupBy("shingle").agg(
        F.countDistinct("doc_id").alias("d")
    )
    return (
        sh.join(df, "shingle")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count(F.when(F.col("d") >= _BP_DF, 1)).alias("n_shared"),
        )
        .select(
            "doc_id",
            "lang",
            "n_shingles",
            "n_shared",
            F.round(
                F.col("n_shared") * 1.0 / F.col("n_shingles"), 6
            ).alias("shared_frac"),
        )
    )


# --------------------------------------------------------------------------
# mm_phash_nn
# --------------------------------------------------------------------------

_PH_BLOCKS = 64  # hash bits = average-hash blocks
_PH_BANDS = 8  # LSH bands below the width threshold (8 bits each)
_PH_BANDS_WIDE = 4  # bands above it (16 bits each: occupancy / 256)
_PH_MIN_BYTES = 64  # payloads shorter than one byte per block are skipped
_PH_WIDE_MIN_DOCS = 2000  # corpus size where the wide bands take over


def _phash_bands(payload: bytes, n_bands: int) -> list[int]:
    """Block-average hash of a decoded sample stream, split into band
    values.

    PGM-ONLY CALLER CONTRACT: the only caller (`mm_phash_nn`) wraps
    every payload in a genuine binary-PGM container (``_encode_pgm``),
    so this decodes through the real P5 raster parse DIRECTLY and
    RAISES if the parse fails — never the codec-dispatch fall-through.
    (Routing through ``multimodal._decode`` would silently byte-stub a
    malformed container, diverging from the ``ascii(substr(...))``
    oracle; a raw text payload that happens to start with a well-formed
    'P5 w h 255' header would be equally silent the other way.)
    Everything downstream (block averaging, mean threshold, banding)
    is the standard aHash pipeline.

    Bit b of the hash is 1 iff the mean of block b exceeds the global
    mean. Both comparisons are done in cross-multiplied INTEGERS
    (sum_b * n > total * cnt_b) so the bit pattern is bit-exact across
    engines — no float averaging."""
    from .multimodal import _parse_pgm

    raster = _parse_pgm(payload)
    if raster is None:
        raise ValueError(
            "mm_phash_nn payloads must be well-formed binary PGM "
            "(caller wraps via _encode_pgm); refusing the byte-stub "
            "fall-through"
        )
    a = raster.astype(np.int64)
    n = a.size
    blk = (np.arange(n) * _PH_BLOCKS) // n
    bsum = np.bincount(blk, weights=a, minlength=_PH_BLOCKS).astype(np.int64)
    bcnt = np.bincount(blk, minlength=_PH_BLOCKS).astype(np.int64)
    bits = (bsum * n > a.sum() * bcnt).astype(np.int64)
    width = _PH_BLOCKS // n_bands
    return [
        int((bits[b * width : (b + 1) * width] << np.arange(width)).sum())
        for b in range(n_bands)
    ]


@query(
    "mm_phash_nn",
    oracle=f"""
    WITH cfg AS (
        SELECT CASE WHEN (SELECT COUNT(*) FROM documents
                          WHERE n_chars >= {_PH_MIN_BYTES})
                         >= {_PH_WIDE_MIN_DOCS}
               THEN {_PH_BLOCKS // _PH_BANDS_WIDE}
               ELSE {_PH_BLOCKS // _PH_BANDS} END AS w
    ),
    b AS (
        SELECT doc_id, n_chars AS n,
               CAST(((i - 1) * {_PH_BLOCKS}) // n_chars AS INT) AS blk,
               ascii(substring(text, CAST(i AS INT), 1)) AS byte
        FROM documents,
             LATERAL (SELECT UNNEST(generate_series(1, n_chars)) AS i)
        WHERE n_chars >= {_PH_MIN_BYTES}
    ),
    blocks AS (
        SELECT doc_id, n, blk, SUM(byte) AS bsum, COUNT(*) AS bcnt
        FROM b GROUP BY 1, 2, 3
    ),
    tot AS (SELECT doc_id, SUM(bsum) AS tsum FROM blocks GROUP BY 1),
    bands AS (
        SELECT blocks.doc_id, blk // (SELECT w FROM cfg) AS band,
               CAST(SUM(
                   CASE WHEN bsum * n > tsum * bcnt THEN 1 ELSE 0 END
                   * (1 << (blk % (SELECT w FROM cfg)))
               ) AS INT) AS band_val
        FROM blocks JOIN tot USING (doc_id)
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS da, c.doc_id AS db
        FROM bands a
        JOIN bands c
          ON a.band = c.band AND a.band_val = c.band_val
         AND a.doc_id <> c.doc_id
    ),
    ham AS (
        SELECT cand.da, cand.db,
               CAST(SUM(bit_count(CAST(
                   xor(x.band_val, y.band_val) AS BIGINT))) AS INT)
                   AS hamming
        FROM cand
        JOIN bands x ON x.doc_id = cand.da
        JOIN bands y ON y.doc_id = cand.db AND y.band = x.band
        GROUP BY 1, 2
    )
    SELECT da AS doc_id, db AS nn_doc, hamming
    FROM ham
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY da ORDER BY hamming, db) = 1
    """,
)
def mm_phash_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash nearest neighbor over the binary (multimodal)
    column: each payload gets a 64-bit block-average hash (aHash — the
    DCT-free member of the pHash family), the hash splits into 8 LSH
    bands of 8 bits, candidates are any two payloads sharing a band
    value, and each document reports its exact-Hamming top-1 neighbor
    among candidates (ties broken to the smallest neighbor id).

    Pipeline shape is the production one: Arrow-batched ``mapInPandas``
    decode+hash (one pass over the binary column, no driver hop), then
    per-band equi-joins on the band value (the LSH bucket join, never
    an all-pairs), unioned and deduped; Hamming then reads BOTH full
    signatures off the joined pair row itself (wide one-row-per-doc
    signature artifact — no per-band re-join or aggregate) and a
    per-doc row_number argmin.

    The band width is CORPUS-DERIVED, not fixed (the round-2 scale
    finding): expected bucket occupancy is corpus/2^width, so in-bucket
    candidate pairs grow quadratically with corpus at any fixed width —
    above ``_PH_WIDE_MIN_DOCS`` filtered docs the 8x8-bit banding
    switches to 4x16-bit (occupancy /256), mirrored in the oracle's
    corpus-count CASE so both engines take the same side of the
    threshold (sf0.01 exercises the narrow side, sf0.1 the wide one).
    Banding is exact for any neighbor within Hamming bands-1
    (pigeonhole); beyond that it is the standard recall/width trade,
    shifted openly at the threshold.

    Payloads are GENUINE binary-PGM containers
    (``multimodal._pgm_payloads``) decoded by the real P5 raster
    parse; the row keeps its FULL oracle because the raster bytes
    round-trip the container exactly (so the hash stays
    SQL-expressible over ``ascii(substr(...))``): the bit pattern is
    decided by cross-multiplied integer comparisons, identical in
    numpy and DuckDB."""
    from .multimodal import _encode_pgm

    t = Tables(spark, sf_dir)
    raw = (
        t.documents.select(
            "doc_id", F.encode("text", "UTF-8").alias("payload")
        )
        # gate on the SAMPLE stream length BEFORE wrapping (mirrors
        # the oracle's n_chars filter; PGM header bytes don't count)
        .where(F.octet_length("payload") >= _PH_MIN_BYTES)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")  # decode parallelism (1 row group)
    )

    band_cols = [f"b{i}" for i in range(_PH_BANDS)]
    schema = "doc_id bigint, " + ", ".join(f"{c} int" for c in band_cols)

    # FUSED wrap+hash: one Arrow pass encodes each payload into a
    # genuine PGM container AND hashes it through the real P5 parse —
    # the r10 split (separate wrap stage, then a hash stage re-reading
    # the payload column) cost a second Arrow pass over the binary
    # column for nothing; the container round-trip is still exercised
    # end-to-end because _phash_bands RAISES unless _parse_pgm accepts
    # the encoded bytes.  The hash always lands as the 8 narrow 8-bit
    # band values (the raw 64 bits in fixed fields); the corpus-derived
    # BANDING is applied afterwards by bit arithmetic — wide 16-bit
    # band j is exactly b_{2j} + 256·b_{2j+1}, the same field split
    # _phash_bands(n_bands=4) produced, so the bucket values are
    # unchanged in both regimes.
    def wrap_and_hash(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                (doc_id, *_phash_bands(_encode_pgm(bytes(p)), _PH_BANDS))
                for doc_id, p in zip(pdf["doc_id"], pdf["payload"])
            ]
            yield pd.DataFrame(out, columns=["doc_id", *band_cols])

    # ONE row per doc (doc_id, b0..b7) — the hash ARTIFACT a production
    # pipeline persists.  With the kernel below it has exactly one
    # consumer, so the r12 localCheckpoint is gone: the decode+hash
    # pass runs once, lazily, inside the single returned plan.
    wide = raw.mapInPandas(wrap_and_hash, schema)
    # corpus-width dispatch: a column-pruned metadata-cheap count on
    # n_chars (predicate pushdown, no payload decode) — the same
    # number the oracle's CASE computes
    n_docs = (
        t.documents.where(F.col("n_chars") >= _PH_MIN_BYTES).count()
    )
    n_bands = _PH_BANDS_WIDE if n_docs >= _PH_WIDE_MIN_DOCS else _PH_BANDS
    # packed 64-bit signature: disjoint 8-bit fields, so Hamming over
    # the packed word equals the per-band XOR popcount sum (shiftleft
    # of b7 into bits 56..63 may wrap the sign — XOR/popcount are
    # bit-pattern operations, sign-independent on both sides)
    sig = None
    for i, bc in enumerate(band_cols):
        term = F.shiftleft(F.col(bc).cast("long"), 8 * i)
        sig = term if sig is None else sig.bitwiseOR(term)
    if n_bands == _PH_BANDS_WIDE:
        band_vals = [
            (F.col(f"b{2 * j}") + F.col(f"b{2 * j + 1}") * 256).cast(
                "int"
            )
            for j in range(_PH_BANDS_WIDE)
        ]
    else:
        band_vals = [F.col(bc).cast("int") for bc in band_cols]
    flat = wide.select(
        "doc_id",
        sig.alias("sig"),
        F.posexplode(F.array(*band_vals)).alias("band", "bv"),
    )

    # ONE Arrow kernel instead of the n_bands self-joins + union +
    # distinct + two signature re-joins + row_number window (round 13,
    # guide §4.2 / §2.4): rows replicate once per band to their
    # (band, band_val) LSH bucket; within a bucket the kernel takes the
    # packed-XOR popcount lattice (uint8 table lookup — vectorized
    # popcount) and folds each doc's running minimum of the packed
    # (hamming << 56 | partner_id) key, which is exactly the oracle's
    # (hamming ASC, db ASC) order.  A pair sharing several bands meets
    # in several buckets; the global min is idempotent, so the old
    # pair-DISTINCT is unnecessary.  Candidate coverage is unchanged:
    # (da, db) collide in the old union iff they share a band value
    # iff they meet in that bucket here.
    def nn_part(batches):
        import numpy as np
        import pandas as pd

        pop = np.array(
            [bin(v).count("1") for v in range(256)], np.uint8
        )
        chunks = list(batches)
        if not chunks:
            return
        pdf = (
            chunks[0]
            if len(chunks) == 1
            else pd.concat(chunks, ignore_index=True)
        )
        if not len(pdf):
            return
        band = pdf["band"].to_numpy(np.int64)
        bv = pdf["bv"].to_numpy(np.int64)
        ids = pdf["doc_id"].to_numpy(np.int64)
        sigs = pdf["sig"].to_numpy(np.int64)
        if ids.size and (int(ids.max()) >> 56 or int(ids.min()) < 0):
            raise ValueError("doc_id exceeds the 56-bit pack range")
        gkey = (band << 17) | bv  # band < 8, band_val < 2^16
        order = np.argsort(gkey, kind="stable")
        gs = gkey[order]
        starts = np.flatnonzero(np.r_[True, gs[1:] != gs[:-1]])
        ends = np.r_[starts[1:], gs.size]
        out_d, out_k = [], []
        for g0, g1 in zip(starts, ends):
            idx = order[g0:g1]
            m = idx.size
            if m < 2:
                continue
            s, d = sigs[idx], ids[idx]
            # slab the probe axis so the lattice stays ~2M cells
            # (the segment-kernel memory discipline)
            slab = max(1, 2_000_000 // m)
            for r0 in range(0, m, slab):
                r1 = min(r0 + slab, m)
                x = s[r0:r1, None] ^ s[None, :]
                ham = (
                    pop[x.view(np.uint8).reshape(r1 - r0, m, 8)]
                    .sum(axis=2)
                    .astype(np.int64)
                )
                key = (ham << 56) | d[None, :]
                key[np.arange(r1 - r0), np.arange(r0, r1)] = np.iinfo(
                    np.int64
                ).max  # exclude self
                out_d.append(d[r0:r1])
                out_k.append(key.min(axis=1))
        if out_d:
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(out_d),
                    "k": np.concatenate(out_k),
                }
            )

    part_best = flat.repartition(
        spark.sparkContext.defaultParallelism, "band", "bv"
    ).mapInPandas(nn_part, "doc_id bigint, k bigint")
    best = part_best.groupBy("doc_id").agg(F.min("k").alias("k"))
    return best.select(
        "doc_id",
        (F.col("k").bitwiseAND(F.lit((1 << 56) - 1))).alias("nn_doc"),
        F.shiftright("k", 56).cast("int").alias("hamming"),
    )


# --------------------------------------------------------------------------
# traj_grid_dbscan
# --------------------------------------------------------------------------

_DB_CELL_Y = 10.0  # value-axis cell height (same grid as traj_heatmap)
_DB_MINPTS = 20  # core-cell density threshold
_DB_OFF = 1000  # linearization offset (keeps ids positive)
_DB_K = 100_000  # linearization stride


@query(
    "traj_grid_dbscan",
    oracle=f"""
    WITH RECURSIVE t0 AS (
        SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0 FROM events
    ),
    cells AS (
        SELECT CAST(FLOOR((epoch_us(CAST(ts AS TIMESTAMP))
                           - (SELECT t0 FROM t0)) / 86400e6)
                    AS BIGINT) AS cx,
               CAST(FLOOR(value / {_DB_CELL_Y}) AS BIGINT) AS cy,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    dense AS MATERIALIZED (
        SELECT cx, cy, n,
               (cx + {_DB_OFF}) * {_DB_K} + (cy + {_DB_OFF}) AS cid
        FROM cells WHERE n >= {_DB_MINPTS}
    ),
    e AS MATERIALIZED (
        SELECT a.cid AS u, b.cid AS v
        FROM dense a JOIN dense b
          ON ABS(a.cx - b.cx) <= 1 AND ABS(a.cy - b.cy) <= 1
         AND a.cid <> b.cid
    ),
    reach(node, label) AS (
        SELECT cid, cid FROM dense
        UNION
        SELECT e.u, r.label
        FROM reach r JOIN e ON e.v = r.node
        WHERE r.label < e.u
    ),
    lab AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node)
    SELECT lab.cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(dense.n) AS BIGINT) AS n_points,
           MIN(dense.cx) AS min_day, MAX(dense.cx) AS max_day,
           MIN(dense.cy) AS min_band, MAX(dense.cy) AS max_band
    FROM lab JOIN dense ON dense.cid = lab.node
    GROUP BY 1
    """,
)
def traj_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid DBSCAN over the (time-in-days, value-band) plane: an eps-
    cell is CORE when it holds >= minPts points; clusters are connected
    components of core cells under 8-neighborhood adjacency. The
    density-based cluster extractor (hotspot REGIONS, where
    ``traj_hotspot_gi`` scores individual cells).

    This is the formulation of DBSCAN that survives 100 TB: density is
    decided by ONE hash aggregate over the points (no point-to-point
    eps-join, which is quadratic in dense regions), and the connectivity
    graph lives on CELLS — orders of magnitude smaller than the points —
    so the shared min-label-propagation CC engine (``text.py``) runs on
    a table whose size is bounded by the grid, not the data. Points
    rejoin their cluster label by cell key afterwards if per-point
    labels are needed (same linear equi-join as the heatmap).

    Cell ids linearize as (cx+off)*K + (cy+off) — written identically
    in the oracle — so the cluster label (min reachable cell id) is
    deterministic across engines and partitionings."""
    from .text import connected_components

    t = Tables(spark, sf_dir)
    ev = t.events
    t0 = ev.agg(F.min(F.unix_micros("ts")).alias("t0"))
    cells = (
        ev.join(F.broadcast(t0))
        .select(
            F.floor(
                (F.unix_micros("ts") - F.col("t0")) / 86400e6
            ).alias("cx"),
            F.floor(F.col("value") / _DB_CELL_Y).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= _DB_MINPTS)
        .withColumn(
            "cid",
            (F.col("cx") + _DB_OFF) * _DB_K + (F.col("cy") + _DB_OFF),
        )
    )
    dense = cells.localCheckpoint()  # tiny; reused by edges + nodes + stats
    # 8-neighborhood adjacency as a scatter-gather EQUI-join (the
    # heatmap pattern): each core cell scatters to its 9 neighbor keys
    # and gathers core cells sitting there. An abs(dx)<=1 theta-join is
    # only viable while the cell table broadcasts; the equi-join keys
    # hash-shuffle at ANY grid size.
    offs = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    nbr = (
        dense.select("cid", "cx", "cy")
        .withColumn("dx", F.explode(offs))
        .withColumn("dy", F.explode(offs))
        .select(
            F.col("cid").alias("u"),
            (F.col("cx") + F.col("dx")).alias("ncx"),
            (F.col("cy") + F.col("dy")).alias("ncy"),
        )
    )
    edges = nbr.join(
        dense.select(F.col("cid").alias("v"), "cx", "cy"),
        (F.col("ncx") == F.col("cx")) & (F.col("ncy") == F.col("cy")),
    ).where(F.col("u") != F.col("v")).select("u", "v")
    labels = connected_components(
        dense.select(F.col("cid").alias("node")), edges
    )
    return (
        labels.join(dense, labels.node == dense.cid)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("n").alias("n_points"),
            F.min("cx").alias("min_day"),
            F.max("cx").alias("max_day"),
            F.min("cy").alias("min_band"),
            F.max("cy").alias("max_band"),
        )
        .select(
            F.col("label").alias("cluster_id"),
            "n_cells",
            "n_points",
            "min_day",
            "max_day",
            "min_band",
            "max_band",
        )
    )


# --------------------------------------------------------------------------
# rel_seasonal_anomaly
# --------------------------------------------------------------------------

_SA_K = 2.5  # |z| threshold; membership tested as 4*num^2*(n-1) > 25*n*var


@query(
    "rel_seasonal_anomaly",
    oracle="""
    WITH q AS (
        SELECT event_id, event_type, value,
               CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24
                    AS INT) AS hod,
               CAST(ROUND(value * 100) AS BIGINT) AS cv
        FROM events
    ),
    prof AS (
        SELECT event_type, hod,
               COUNT(*) AS n,
               SUM(cv) AS sv,
               SUM(CAST(cv AS HUGEINT) * CAST(cv AS HUGEINT)) AS sxx
        FROM q GROUP BY 1, 2
    )
    SELECT q.event_id, q.event_type, q.hod, q.value,
           ROUND((q.cv * p.n - p.sv) /
                 SQRT(p.n * 1.0 * (p.n * p.sxx - CAST(p.sv AS HUGEINT)
                                   * CAST(p.sv AS HUGEINT)) / (p.n - 1)),
                 6) AS z
    FROM q JOIN prof p USING (event_type, hod)
    WHERE p.n >= 2
      AND p.n * p.sxx > CAST(p.sv AS HUGEINT) * CAST(p.sv AS HUGEINT)
      AND 4 * CAST(q.cv * p.n - p.sv AS HUGEINT)
            * CAST(q.cv * p.n - p.sv AS HUGEINT) * (p.n - 1)
          > 25 * CAST(p.n AS HUGEINT)
              * (p.n * p.sxx
                 - CAST(p.sv AS HUGEINT) * CAST(p.sv AS HUGEINT))
    """,
)
def rel_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomalies: each event's value is z-scored
    against its (event_type, hour-of-day) profile, and rows with
    |z| > 2.5 are reported — the deseasonalized sibling of the daily
    ``rel_anomaly_mad`` row (an event that is normal at peak hour is
    anomalous at 4 am; a raw global threshold can't see that).

    Exactness (house fixed-point discipline, ``series.py``): values
    quantize to exact centi-units once; the profile keeps integer
    sufficient statistics (n, sum, sum-of-squares); set MEMBERSHIP is
    the cross-multiplied integer inequality
    ``4*(x*n - Sv)^2*(n-1) > 25*n*(n*Sxx - Sv^2)`` — no float ever
    decides inclusion, so the result set is bit-stable across engines.
    The displayed z is one float expression over those integers,
    written with identical operation order in the oracle. Hour-of-day
    is epoch-arithmetic ((us // 3600e6) % 24), not a calendar function
    — timezone-free on both engines.

    Shape: one hash aggregate for the 120-row profile (types x hours),
    broadcast back onto the scan — a single pass at any scale."""
    t = Tables(spark, sf_dir)
    q = t.events.select(
        "event_id",
        "event_type",
        "value",
        (F.expr("unix_micros(ts) div 3600000000") % 24)
        .cast("int")
        .alias("hod"),
        F.round(F.col("value") * 100).cast("bigint").alias("cv"),
    )
    prof = q.groupBy("event_type", "hod").agg(
        F.count("*").alias("n"),
        F.sum("cv").alias("sv"),
        F.sum(
            F.col("cv").cast("decimal(18,0)") * F.col("cv").cast("decimal(18,0)")
        ).alias("sxx"),
    )
    j = q.join(F.broadcast(prof), ["event_type", "hod"])
    num = F.col("cv") * F.col("n") - F.col("sv")  # bigint, exact
    n_d = F.col("n").cast("decimal(18,0)")
    sv_d = F.col("sv").cast("decimal(18,0)")
    var_num = n_d * F.col("sxx") - sv_d * sv_d  # decimal, exact
    lhs = (
        F.lit(4).cast("decimal(18,0)")
        * num.cast("decimal(18,0)")
        * num.cast("decimal(18,0)")
        * (n_d - 1)
    )
    rhs = F.lit(25).cast("decimal(18,0)") * n_d * var_num
    return j.where(
        (F.col("n") >= 2) & (var_num > 0) & (lhs > rhs)
    ).select(
        "event_id",
        "event_type",
        "hod",
        "value",
        F.round(
            num
            / F.sqrt(
                F.col("n")
                * 1.0
                * var_num.cast("double")
                / (F.col("n") - 1)
            ),
            6,
        ).alias("z"),
    )


# --------------------------------------------------------------------------
# graph_modularity
# --------------------------------------------------------------------------


# the co-movement graph's oracle CTEs (b: per-day value bands, e: the
# edge list) — shared text: graph_modularity here, graph_louvain_move
# in extras9 (both mirror mining.comovement_edges)
_COMOVE_ORACLE_CTES = """b AS (
        SELECT user_id,
               CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400e6)
                    AS BIGINT) AS dy,
               MIN(value) AS v
        FROM events GROUP BY 1, 2
    ),
    e AS MATERIALIZED (
        SELECT a.user_id AS u, c.user_id AS v
        FROM b a JOIN b c
          ON a.dy = c.dy AND a.user_id < c.user_id
         AND ABS(a.v - c.v) <= 1.0
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
    )"""


@query(
    "graph_modularity",
    oracle=f"""
    WITH {_COMOVE_ORACLE_CTES},
    comm AS (
        SELECT user_id,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                    // (COUNT(*) * 1000) AS BIGINT) AS community
        FROM events GROUP BY user_id
    ),
    m AS (SELECT COUNT(*) AS m FROM e),
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT u AS node FROM e UNION ALL SELECT v FROM e
        ) GROUP BY node
    ),
    nodes AS (
        SELECT comm.user_id, comm.community, COALESCE(deg.d, 0) AS d
        FROM comm LEFT JOIN deg ON deg.node = comm.user_id
    ),
    intra AS (
        SELECT a.community, COUNT(*) AS l
        FROM e
        JOIN nodes a ON a.user_id = e.u
        JOIN nodes c ON c.user_id = e.v AND c.community = a.community
        GROUP BY 1
    )
    SELECT n.community,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(COALESCE(MAX(intra.l), 0) AS BIGINT) AS internal_edges,
           CAST(SUM(n.d) AS BIGINT) AS degree_sum,
           ROUND(COALESCE(MAX(intra.l), 0) * 1.0 / (SELECT m FROM m)
                 - (SUM(n.d) * 0.5 / (SELECT m FROM m))
                   * (SUM(n.d) * 0.5 / (SELECT m FROM m)), 6) + 0.0
               AS q_contrib
    FROM nodes n LEFT JOIN intra ON intra.community = n.community
    GROUP BY n.community
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of a node partition over the co-movement graph:
    users partition by their mean value band (an edge-independent
    attribute), and each community reports its node count, internal
    edge count L_c, degree mass D_c and modularity contribution
    Q_c = L_c/m - (D_c/2m)^2. Sum of q_contrib = the partition's Q —
    the standard "do edges concentrate within groups" statistic
    (community-quality gate for any clustering the pipeline produces).

    Reuses the session-shared co-movement edge artifact (one build per
    sf_dir, ``mining.comovement_edges``); everything else is linear hash
    aggregates plus two broadcast-sized joins (communities ~ tens of
    rows, the m scalar a 1-row cross join). The community key is exact:
    SUM(centi-value) integer-divided by (count * 1000) — floor of the
    mean value band with no float mean.

    Unlike the CC rows, the partition is independent of the edges, so
    D_c != 2*L_c and the statistic is non-degenerate."""
    from .mining import comovement_edges

    t = Tables(spark, sf_dir)
    e = comovement_edges(spark, sf_dir)
    comm = t.events.groupBy("user_id").agg(
        # exact floor of the mean value band: integer `div`, no float mean
        F.expr(
            "sum(cast(round(value * 100) as bigint)) div (count(*) * 1000)"
        ).alias("community")
    )
    m = e.agg(F.count("*").alias("m"))
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    nodes = comm.join(
        deg, comm.user_id == deg.node, "left"
    ).select(
        "user_id", "community", F.coalesce("d", F.lit(0)).alias("d")
    )
    na, nc = nodes.alias("na"), nodes.alias("nc")
    intra = (
        e.join(na, F.col("na.user_id") == e.u)
        .join(
            nc,
            (F.col("nc.user_id") == e.v)
            & (F.col("nc.community") == F.col("na.community")),
        )
        .groupBy(F.col("na.community").alias("community"))
        .agg(F.count("*").alias("l"))
    )
    return (
        nodes.join(F.broadcast(intra), "community", "left")
        .join(F.broadcast(m))
        .groupBy("community")
        .agg(
            F.count("*").alias("n_nodes"),
            F.coalesce(F.max("l"), F.lit(0)).alias("internal_edges"),
            F.sum("d").alias("degree_sum"),
            (
                F.round(
                    F.coalesce(F.max("l"), F.lit(0)) * 1.0 / F.max("m")
                    - (F.sum("d") * 0.5 / F.max("m"))
                    * (F.sum("d") * 0.5 / F.max("m")),
                    6,
                )
                # + 0.0 collapses IEEE negative zero: a community whose
                # Q-contribution rounds to -0.0 on one engine and +0.0
                # on the other would string-compare unequal (found by
                # the sf0.1 dual-scale gate)
                + 0.0
            ).alias("q_contrib"),
        )
    )


# --------------------------------------------------------------------------
# pipe_quality_prune
# --------------------------------------------------------------------------

_QP_MIN_TOK = 20
_QP_MAX_TOK = 80
# repetitive: intra-doc duplicate 3-gram mass > 2%  ((ng-nd)*50 > ng)
# boilerplate: cross-doc shared 4-gram mass > 30%   (nsh*10 > ns*3)


@query(
    "pipe_quality_prune",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, source, string_split(text, ' ') AS t
        FROM documents
    ),
    rep AS (
        SELECT doc_id, COUNT(*) AS ng, COUNT(DISTINCT s) AS nd
        FROM (SELECT doc_id,
                     array_to_string(list_slice(t, i, i + 2), ' ') AS s
              FROM toks,
                   LATERAL (SELECT UNNEST(generate_series(1, len(t) - 2))
                            AS i)
              WHERE len(t) >= 3)
        GROUP BY 1
    ),
    sh AS (
        SELECT doc_id, array_to_string(list_slice(t, i, i + 3), ' ') AS s
        FROM toks,
             LATERAL (SELECT UNNEST(generate_series(1, len(t) - 3)) AS i)
        WHERE len(t) >= 4
    ),
    df AS (SELECT s, COUNT(DISTINCT doc_id) AS d FROM sh GROUP BY s),
    bp AS (
        SELECT sh.doc_id, COUNT(*) AS ns,
               COUNT(*) FILTER (df.d >= 2) AS nsh
        FROM sh JOIN df USING (s) GROUP BY 1
    )
    SELECT t.doc_id, t.lang, t.source,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CASE WHEN len(t.t) < {_QP_MIN_TOK} THEN 'too_short'
                WHEN len(t.t) > {_QP_MAX_TOK} THEN 'too_long'
                WHEN (rep.ng - rep.nd) * 50 > rep.ng THEN 'repetitive'
                WHEN bp.nsh * 10 > bp.ns * 3 THEN 'boilerplate'
                ELSE 'keep' END AS verdict
    FROM toks t
    LEFT JOIN rep USING (doc_id)
    LEFT JOIN bp USING (doc_id)
    """,
)
def pipe_quality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite curation AUDIT: every document gets a keep/drop
    verdict with the FIRST failing rule as its reason code — length
    band (Gopher-style), intra-doc repetition (``text_repetition``'s
    duplicate 3-gram mass), cross-doc boilerplate
    (``text_boilerplate``'s shared 4-gram mass). A per-doc decision
    table, not just aggregate counts, because "why was THIS document
    dropped" is the question a curation team actually debugs — and
    because downstream stages (dedup, mixing) want the kept set as a
    relation to semi-join against.

    All rule memberships are exact-integer comparisons (cross-
    multiplied ratios: dup mass > 2% is ``(ng-nd)*50 > ng``, shared
    mass > 30% is ``nsh*10 > ns*3``) — no float ever decides a verdict,
    so the audit is bit-identical across engines and reruns. Shape:
    two shingle explodes (both repartitioned by the shared builder) +
    three doc_id-keyed hash aggregates + two LEFT joins back to the doc
    scan — linear end-to-end, every join key the natural doc_id."""
    from .text_ext import _word_shingles

    t = Tables(spark, sf_dir)
    docs = t.documents
    rep3 = (
        _word_shingles(docs, 3)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("ng"),
            F.countDistinct("shingle").alias("nd"),
        )
    )
    # materialize the 4-gram explode once: the DF aggregate AND the
    # join-back side both read it (same move as text_boilerplate)
    sh4 = (
        _word_shingles(docs, 4).select("doc_id", "shingle").localCheckpoint()
    )
    df4 = sh4.groupBy("shingle").agg(F.countDistinct("doc_id").alias("d"))
    bp = (
        sh4.join(df4, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("ns"),
            F.count(F.when(F.col("d") >= _BP_DF, 1)).alias("nsh"),
        )
    )
    base = (
        docs.select(
            "doc_id",
            "lang",
            "source",
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        )
        .join(rep3, "doc_id", "left")
        .join(bp, "doc_id", "left")
    )
    verdict = (
        F.when(F.col("n_tokens") < _QP_MIN_TOK, F.lit("too_short"))
        .when(F.col("n_tokens") > _QP_MAX_TOK, F.lit("too_long"))
        .when(
            (F.col("ng") - F.col("nd")) * 50 > F.col("ng"),
            F.lit("repetitive"),
        )
        .when(F.col("nsh") * 10 > F.col("ns") * 3, F.lit("boilerplate"))
        .otherwise(F.lit("keep"))
    )
    return base.select(
        "doc_id", "lang", "source", "n_tokens", verdict.alias("verdict")
    )


# --------------------------------------------------------------------------
# traj_segment_intersections
# --------------------------------------------------------------------------

_SI_DAY_US = 86_400_000_000  # candidate bucket: one day of microseconds


def _int_segments(t: Tables) -> DataFrame:
    """(user_id, seq, x1, y1, x2, y2) consecutive-point segments in
    EXACT integer coordinates: x = microseconds since corpus start,
    y = centi-value. Per-axis scaling is an invertible affine map, so
    segment incidence in this integer plane equals incidence in the
    (days, value) float plane — and every orientation test downstream
    stays in INT64."""
    t0 = t.events.agg(F.min(F.unix_micros("ts")).alias("t0"))
    pts = (
        t.user_points()
        .join(F.broadcast(t0))
        .select(
            "user_id",
            "seq",
            (F.unix_micros("ts") - F.col("t0")).alias("xi"),
            F.round(F.col("value") * 100).cast("bigint").alias("yi"),
        )
    )
    w = W.partitionBy("user_id").orderBy("seq")
    return (
        pts.select(
            "user_id",
            "seq",
            F.col("xi").alias("x1"),
            F.col("yi").alias("y1"),
            F.lead("xi").over(w).alias("x2"),
            F.lead("yi").over(w).alias("y2"),
        )
        .filter(F.col("x2").isNotNull())
    )


def _proper_crossing():
    """Column: the four-orientation CCW proper-crossing predicate over
    canonical pair columns (ax1..ay2, bx1..by2) — INT64 cross products,
    sign() products strictly negative (touching/collinear excluded)."""

    def sgn(e):
        return F.when(e > 0, 1).when(e < 0, -1).otherwise(0)

    d1 = sgn(
        (F.col("ax2") - F.col("ax1")) * (F.col("by1") - F.col("ay1"))
        - (F.col("ay2") - F.col("ay1")) * (F.col("bx1") - F.col("ax1"))
    )
    d2 = sgn(
        (F.col("ax2") - F.col("ax1")) * (F.col("by2") - F.col("ay1"))
        - (F.col("ay2") - F.col("ay1")) * (F.col("bx2") - F.col("ax1"))
    )
    d3 = sgn(
        (F.col("bx2") - F.col("bx1")) * (F.col("ay1") - F.col("by1"))
        - (F.col("by2") - F.col("by1")) * (F.col("ax1") - F.col("bx1"))
    )
    d4 = sgn(
        (F.col("bx2") - F.col("bx1")) * (F.col("ay2") - F.col("by1"))
        - (F.col("by2") - F.col("by1")) * (F.col("ax2") - F.col("bx1"))
    )
    return (d1 * d2 < 0) & (d3 * d4 < 0)


@query(
    "traj_segment_intersections",
    oracle=f"""
    WITH t0 AS (
        SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0 FROM events
    ),
    p AS (
        SELECT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) - (SELECT t0 FROM t0) AS xi,
               CAST(ROUND(value * 100) AS BIGINT) AS yi,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS seq
        FROM events
    ),
    s AS (
        SELECT * FROM (
            SELECT user_id, seq, xi AS x1, yi AS y1,
                   LEAD(xi) OVER (PARTITION BY user_id ORDER BY seq) AS x2,
                   LEAD(yi) OVER (PARTITION BY user_id ORDER BY seq) AS y2
            FROM p
        ) WHERE x2 IS NOT NULL
    ),
    sd AS (
        SELECT s.*, UNNEST(generate_series(
            x1 // {_SI_DAY_US}, x2 // {_SI_DAY_US})) AS day
        FROM s
    ),
    cand AS (
        SELECT a.user_id AS ua, a.seq AS sa,
               a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
               b.user_id AS ub, b.seq AS sb,
               b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2
        FROM sd a JOIN sd b
          ON a.day = b.day AND a.user_id < b.user_id
         AND a.day = GREATEST(a.x1 // {_SI_DAY_US}, b.x1 // {_SI_DAY_US})
         AND GREATEST(a.x1, b.x1) <= LEAST(a.x2, b.x2)
         AND GREATEST(LEAST(a.y1, a.y2), LEAST(b.y1, b.y2))
             <= LEAST(GREATEST(a.y1, a.y2), GREATEST(b.y1, b.y2))
    ),
    tested AS (
        SELECT ua, ub,
               CASE WHEN (ax2-ax1)*(by1-ay1) - (ay2-ay1)*(bx1-ax1) > 0
                    THEN 1 WHEN (ax2-ax1)*(by1-ay1) - (ay2-ay1)*(bx1-ax1)
                    < 0 THEN -1 ELSE 0 END AS d1,
               CASE WHEN (ax2-ax1)*(by2-ay1) - (ay2-ay1)*(bx2-ax1) > 0
                    THEN 1 WHEN (ax2-ax1)*(by2-ay1) - (ay2-ay1)*(bx2-ax1)
                    < 0 THEN -1 ELSE 0 END AS d2,
               CASE WHEN (bx2-bx1)*(ay1-by1) - (by2-by1)*(ax1-bx1) > 0
                    THEN 1 WHEN (bx2-bx1)*(ay1-by1) - (by2-by1)*(ax1-bx1)
                    < 0 THEN -1 ELSE 0 END AS d3,
               CASE WHEN (bx2-bx1)*(ay2-by1) - (by2-by1)*(ax2-bx1) > 0
                    THEN 1 WHEN (bx2-bx1)*(ay2-by1) - (by2-by1)*(ax2-bx1)
                    < 0 THEN -1 ELSE 0 END AS d4
        FROM cand
    )
    SELECT ua AS user_a, ub AS user_b,
           CAST(COUNT(*) AS BIGINT) AS n_crossings
    FROM tested
    WHERE d1 * d2 < 0 AND d3 * d4 < 0
    GROUP BY 1, 2
    """,
)
def traj_segment_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT-SEGMENT geometry — the reference's LineSegment core
    (R6/R15: Simba-lineage ``LineSegment`` with segment-segment
    predicates [P §3.2]) as a distributed crossing-detection join:
    count, per user pair, the segment pairs that PROPERLY cross in the
    (time, value) plane (trajectory paths intersecting — encounter /
    conflict detection).

    Exactness: coordinates quantize ONCE to integers (microseconds,
    centi-value) — per-axis scaling is an invertible affine map, so
    crossings in the integer plane are exactly the crossings in the
    float plane — and the crossing predicate is the classic four-
    orientation CCW test computed in INT64 cross products (|dx·dy| <=
    2.6e12 · 4.9e4 ≈ 1.3e17 < 2^63) with sign() products: no float
    enters any decision, both engines get identical bits.

    Scale shape: segments explode to the DAY buckets their x-extent
    covers (the reference's STR cell assignment for segments, R5/[P
    §4.1]); candidates come from a day-bucket equi-join gated by exact
    bbox overlap BEFORE the orientation math, and a pair found in
    several shared days is counted once via canonical-cell attribution
    (only in the FIRST day both cover — a join-side predicate, not a
    post-join DISTINCT shuffle). A properly
    crossing pair shares the cell containing its intersection point,
    so the bucketing is lossless. All joins are equi-joins; the only
    quadratic term is within-bucket, bounded by per-day segment
    density (the same argument as ``traj_comovement``).

    Execution (round 12, guide §4.2 per-task work): the within-bucket
    quadratic is evaluated by a VECTORIZED Arrow kernel instead of a
    sort-merge join streaming the grid row-at-a-time — at sf0.1 the
    (day, block) buckets hold ~673M grid cells, and codegen'd join-row
    production was the entire cost (~4.8 s action; the same cells as
    int64 NumPy lattice masks evaluate in well under a second). The
    pair SPACE is untouched: segments replicate to the identical
    (day, blk, obk) key space, each unordered pair still meets in
    exactly one group of one canonical day, every predicate (user
    order, bbox overlap, canonical-day attribution, four-orientation
    CCW signs) is the same INT64 arithmetic — NumPy int64 and Catalyst
    BIGINT make identical decisions, so the oracle needs no mirror."""
    seg = _int_segments(Tables(spark, sf_dir)).withColumn(
        "day",
        F.explode(
            F.sequence(
                F.expr(f"x1 div {_SI_DAY_US}"),
                F.expr(f"x2 div {_SI_DAY_US}"),
            )
        ),
    )
    # Pair-block decomposition: ~30 day keys alone cap the work at 30
    # tasks while the within-day work is quadratic. The a-side of each
    # pair lands in its OWN block crossed with every opposite block
    # (and vice versa for the b-side), so the (day, blk, obk) key space
    # has 30*B^2 keys and every user pair meets in EXACTLY one of them
    # — pure physical re-distribution, the logical pair set is
    # untouched (so the oracle needs no mirror).
    _B = 6
    # ONE explode produces both roles' replicas (2B struct entries per
    # segment-day row) — a two-sided union would re-run the whole
    # assembly subtree (corpus window included) once per side.
    grp = F.explode(
        F.expr(
            f"concat("
            f"transform(sequence(0, {_B - 1}), o -> struct("
            f"  CAST(pmod(user_id, {_B}) AS INT) AS blk,"
            f"  CAST(o AS INT) AS obk, 0 AS role)),"
            f"transform(sequence(0, {_B - 1}), o -> struct("
            f"  CAST(o AS INT) AS blk,"
            f"  CAST(pmod(user_id, {_B}) AS INT) AS obk, 1 AS role))"
            f")"
        )
    ).alias("g")
    both = seg.select(
        "user_id", "x1", "y1", "x2", "y2", "day", grp
    ).select(
        "day",
        F.col("g.blk").alias("blk"),
        F.col("g.obk").alias("obk"),
        F.col("g.role").alias("role"),
        "user_id",
        "x1",
        "y1",
        "x2",
        "y2",
    )

    day_us = _SI_DAY_US

    def kern_part(batches):
        """One call per shuffle PARTITION (mapInPandas, not a per-group
        applyInPandas: 1080 tiny groups paid ~2 s of per-group Arrow
        machinery; one Arrow stream per partition does not). Batches
        are concatenated — a partition holds ~50k narrow rows — and the
        (day, blk, obk) groups are processed with in-kernel slicing."""
        import numpy as np
        import pandas as pd

        chunks = list(batches)
        if not chunks:
            return
        pdf = (
            chunks[0]
            if len(chunks) == 1
            else pd.concat(chunks, ignore_index=True)
        )
        if not len(pdf):
            # a zero-row Arrow batch inside a non-empty partition would
            # otherwise produce one degenerate group below
            return
        role_c = pdf["role"].to_numpy()
        u_c = pdf["user_id"].to_numpy(np.int64)
        x1_c = pdf["x1"].to_numpy(np.int64)
        y1_c = pdf["y1"].to_numpy(np.int64)
        x2_c = pdf["x2"].to_numpy(np.int64)
        y2_c = pdf["y2"].to_numpy(np.int64)
        day_c = pdf["day"].to_numpy(np.int64)
        blk_c = pdf["blk"].to_numpy(np.int64)
        obk_c = pdf["obk"].to_numpy(np.int64)
        if u_c.size and int(u_c.max()) >> 31:
            raise ValueError("user_id exceeds 31-bit pack range")
        if y1_c.size and max(
            abs(int(y1_c.max())),
            abs(int(y1_c.min())),
            abs(int(y2_c.max())),
            abs(int(y2_c.min())),
        ) >> 31:
            raise ValueError("centi-value exceeds 31-bit lattice range")
        # group rows by (day, blk, obk) via one packed-key sort.
        # Packing invariants (alongside the 31-bit guards above): the
        # 8-bit block fields assume _B <= 256 and the shift assumes
        # non-negative days — violating either would silently alias
        # groups, so fail loudly instead.
        if day_c.size and int(day_c.min()) < 0:
            raise ValueError("negative day index breaks group packing")
        if blk_c.size and max(int(blk_c.max()), int(obk_c.max())) > 255:
            raise ValueError("block index exceeds 8-bit pack range")
        gkey = (day_c << 16) | (blk_c << 8) | obk_c
        order = np.argsort(gkey, kind="stable")
        gsorted = gkey[order]
        starts = np.flatnonzero(
            np.r_[True, gsorted[1:] != gsorted[:-1]]
        )
        ends = np.r_[starts[1:], gsorted.size]
        packed = []
        for g0, g1 in zip(starts, ends):
            idx = order[g0:g1]
            day = int(day_c[idx[0]])
            role = role_c[idx]
            am, bm = role == 0, role == 1
            if not am.any() or not bm.any():
                continue
            ia0, ib0 = idx[am], idx[bm]
            # canonical-day attribution WITHOUT a lattice (round 13):
            # a pair found in several shared days still counts once, in
            # the FIRST day both cover, but a segment's start day never
            # exceeds a day it covers, so ad, bd <= day and
            # max(ad, bd) == day  ⟺  ad == day OR bd == day.  Split
            # the b-side on bd == day — (all a) × (bd == day) plus
            # (ad == day) × (bd < day) — and the third int32 lattice
            # (the max/== day mask) disappears while the (ad < day AND
            # bd < day) cells are never evaluated at all.  The two
            # sub-lattices partition exactly the pairs the day mask
            # kept, so the counted pair set is bit-identical (twin test
            # re-pins it).  x is non-negative, so // equals SQL's
            # truncating div.
            ad0 = x1_c[ia0] // day_us
            bd0 = x1_c[ib0] // day_us
            b_new = bd0 == day
            for ia, ib in (
                (ia0, ib0[b_new]),
                (ia0[ad0 == day], ib0[~b_new]),
            ):
                if not ia.size or not ib.size:
                    continue
                # SORTED-SUFFIX user-order prune (round 13): with both
                # sides sorted by user id, the columns satisfying
                # ua < ub form a suffix, located by one binary search
                # per slab — on average half the lattice is never
                # allocated or scanned (same pairs, the mask still
                # applies the exact per-row ua < ub on the slice).
                ia = ia[np.argsort(u_c[ia], kind="stable")]
                ib = ib[np.argsort(u_c[ib], kind="stable")]
                ua, ax1, ay1 = u_c[ia], x1_c[ia], y1_c[ia]
                ax2, ay2 = x2_c[ia], y2_c[ia]
                ub, bx1, by1 = u_c[ib], x1_c[ib], y1_c[ib]
                bx2, by2 = x2_c[ib], y2_c[ib]
                # int32 lattice phase: the full (na x nb) masks are the
                # memory-bandwidth cost of the kernel (measured 3x
                # slowdown at 32-way concurrency on int64 lattices), and
                # user ids and centi-values all fit int32 (guarded
                # above).  Only x needs int64 — evaluated COMPRESSED on
                # the lattice survivors, never as a lattice.
                ua32, ub32 = ua.astype(np.int32), ub.astype(np.int32)
                aylo = np.minimum(ay1, ay2).astype(np.int32)
                ayhi = np.maximum(ay1, ay2).astype(np.int32)
                bylo = np.minimum(by1, by2).astype(np.int32)
                byhi = np.maximum(by1, by2).astype(np.int32)
                # slab the a-side so the (slab x nb) lattice stays ~2M
                # cells regardless of per-day density (the B-block split
                # is the primary scale lever; this bounds kernel memory)
                nb = ub.size
                slab = max(1, 2_000_000 // max(nb, 1))
                for s in range(0, ua.size, slab):
                    e = s + slab
                    # slab rows are ua-ascending: columns with
                    # ub <= ua[s] pair with no row in the slab
                    j0 = int(np.searchsorted(ub, ua[s], side="right"))
                    if j0 >= nb:
                        continue
                    m = ua32[s:e, None] < ub32[None, j0:]
                    m &= (
                        np.maximum(aylo[s:e, None], bylo[None, j0:])
                        <= np.minimum(ayhi[s:e, None], byhi[None, j0:])
                    )
                    ii, jj = np.nonzero(m)
                    if ii.size == 0:
                        continue
                    ii += s
                    jj += j0
                    keep = (
                        np.maximum(ax1[ii], bx1[jj])
                        <= np.minimum(ax2[ii], bx2[jj])
                    )
                    if not keep.any():
                        continue
                    ii, jj = ii[keep], jj[keep]
                    dax = ax2[ii] - ax1[ii]
                    day_ = ay2[ii] - ay1[ii]
                    dbx = bx2[jj] - bx1[jj]
                    dby = by2[jj] - by1[jj]
                    d1 = np.sign(
                        dax * (by1[jj] - ay1[ii])
                        - day_ * (bx1[jj] - ax1[ii])
                    )
                    d2 = np.sign(
                        dax * (by2[jj] - ay1[ii])
                        - day_ * (bx2[jj] - ax1[ii])
                    )
                    d3 = np.sign(
                        dbx * (ay1[ii] - by1[jj])
                        - dby * (ax1[ii] - bx1[jj])
                    )
                    d4 = np.sign(
                        dbx * (ay2[ii] - by1[jj])
                        - dby * (ax2[ii] - bx1[jj])
                    )
                    ok = (d1 * d2 < 0) & (d3 * d4 < 0)
                    if ok.any():
                        # pack the pair key into one int64 (user ids
                        # are below 2^31 at every probed scale;
                        # guarded above)
                        packed.append((ua[ii[ok]] << 31) | ub[jj[ok]])
        if packed:
            uniq, cnt = np.unique(
                np.concatenate(packed), return_counts=True
            )
            yield pd.DataFrame(
                {
                    "ua": uniq >> 31,
                    "ub": uniq & ((1 << 31) - 1),
                    "c": cnt.astype(np.int64),
                }
            )

    partial = both.repartition(
        spark.sparkContext.defaultParallelism, "day", "blk", "obk"
    ).mapInPandas(kern_part, schema="ua bigint, ub bigint, c bigint")
    return (
        partial.groupBy(
            F.col("ua").alias("user_a"), F.col("ub").alias("user_b")
        )
        .agg(F.sum("c").cast("bigint").alias("n_crossings"))
    )


@query(
    "traj_self_intersections",
    oracle="""
    WITH p AS (
        SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS seq
        FROM events
    ),
    ph AS (
        SELECT user_id, seq,
               LAG(v) OVER (PARTITION BY user_id ORDER BY seq) AS x,
               v AS y
        FROM p
    ),
    s AS (
        SELECT * FROM (
            SELECT user_id, seq, x AS x1, y AS y1,
                   LEAD(x) OVER (PARTITION BY user_id ORDER BY seq) AS x2,
                   LEAD(y) OVER (PARTITION BY user_id ORDER BY seq) AS y2
            FROM ph WHERE x IS NOT NULL
        ) WHERE x2 IS NOT NULL
    ),
    cand AS (
        SELECT a.user_id,
               a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
               b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2
        FROM s a JOIN s b
          ON a.user_id = b.user_id AND a.seq + 1 < b.seq
         AND GREATEST(LEAST(a.x1, a.x2), LEAST(b.x1, b.x2))
             <= LEAST(GREATEST(a.x1, a.x2), GREATEST(b.x1, b.x2))
         AND GREATEST(LEAST(a.y1, a.y2), LEAST(b.y1, b.y2))
             <= LEAST(GREATEST(a.y1, a.y2), GREATEST(b.y1, b.y2))
    ),
    tested AS (
        SELECT user_id,
               CASE WHEN (ax2-ax1)*(by1-ay1) - (ay2-ay1)*(bx1-ax1) > 0
                    THEN 1 WHEN (ax2-ax1)*(by1-ay1) - (ay2-ay1)*(bx1-ax1)
                    < 0 THEN -1 ELSE 0 END AS d1,
               CASE WHEN (ax2-ax1)*(by2-ay1) - (ay2-ay1)*(bx2-ax1) > 0
                    THEN 1 WHEN (ax2-ax1)*(by2-ay1) - (ay2-ay1)*(bx2-ax1)
                    < 0 THEN -1 ELSE 0 END AS d2,
               CASE WHEN (bx2-bx1)*(ay1-by1) - (by2-by1)*(ax1-bx1) > 0
                    THEN 1 WHEN (bx2-bx1)*(ay1-by1) - (by2-by1)*(ax1-bx1)
                    < 0 THEN -1 ELSE 0 END AS d3,
               CASE WHEN (bx2-bx1)*(ay2-by1) - (by2-by1)*(ax2-bx1) > 0
                    THEN 1 WHEN (bx2-bx1)*(ay2-by1) - (by2-by1)*(ax2-bx1)
                    < 0 THEN -1 ELSE 0 END AS d4
        FROM cand
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_self_crossings
    FROM tested
    WHERE d1 * d2 < 0 AND d3 * d4 < 0
    GROUP BY 1
    """,
)
def traj_self_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-crossing count per trajectory in the DELAY-COORDINATE phase
    space (v_{i-1}, v_i) — the Takens-embedding complexity feature: a
    series whose phase-space path keeps re-crossing itself is erratic/
    oscillatory, a trending one is not. (In any TIME-parameterized
    plane self-crossings are geometrically impossible — x is strictly
    increasing, non-adjacent segments have disjoint x-extents — which
    is why the embedding, not the raw plane, is the meaningful domain;
    verified: the raw-plane count is identically zero.)

    Same exact-integer segment-geometry kernel as
    ``traj_segment_intersections`` (shared ``_proper_crossing``
    predicate), restricted to within-user pairs with seq gap >= 2
    (adjacent segments share an endpoint and cannot properly cross).
    Phase-space x is NOT monotone, so the bbox gate takes LEAST/
    GREATEST on both axes. The join keys on user_id itself —
    per-trajectory locality (R2), per-user segment counts bounded, no
    bucketing needed."""
    t = Tables(spark, sf_dir)
    pts = t.user_points().select(
        "user_id",
        "seq",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    w = W.partitionBy("user_id").orderBy("seq")
    ph = pts.select(
        "user_id",
        "seq",
        F.lag("v").over(w).alias("x"),
        F.col("v").alias("y"),
    ).filter(F.col("x").isNotNull())
    seg = ph.select(
        "user_id",
        "seq",
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
        F.lead("x").over(w).alias("x2"),
        F.lead("y").over(w).alias("y2"),
    ).filter(F.col("x2").isNotNull())
    a, b = seg.alias("a"), seg.alias("b")
    cand = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.seq") + 1 < F.col("b.seq"))
        & (
            F.greatest(
                F.least("a.x1", "a.x2"), F.least("b.x1", "b.x2")
            )
            <= F.least(
                F.greatest("a.x1", "a.x2"), F.greatest("b.x1", "b.x2")
            )
        )
        & (
            F.greatest(
                F.least("a.y1", "a.y2"), F.least("b.y1", "b.y2")
            )
            <= F.least(
                F.greatest("a.y1", "a.y2"), F.greatest("b.y1", "b.y2")
            )
        ),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.x1").alias("ax1"),
        F.col("a.y1").alias("ay1"),
        F.col("a.x2").alias("ax2"),
        F.col("a.y2").alias("ay2"),
        F.col("b.x1").alias("bx1"),
        F.col("b.y1").alias("by1"),
        F.col("b.x2").alias("bx2"),
        F.col("b.y2").alias("by2"),
    )
    return (
        cand.filter(_proper_crossing())
        .groupBy("user_id")
        .agg(F.count("*").alias("n_self_crossings"))
    )


# --------------------------------------------------------------------------
# mm_scene_cuts
# --------------------------------------------------------------------------

_SC_FRAME = 32  # bytes per frame (matches multimodal._FRAME_BYTES)
# cut: frame energy moves > 5% vs previous frame (|e-pe|*20 > pe, integer)


@query(
    "mm_scene_cuts",
    oracle=f"""
    WITH b AS (
        SELECT doc_id,
               (i - 1) // {_SC_FRAME} AS f,
               ascii(substring(text, CAST(i AS INT), 1)) AS byte
        FROM documents,
             LATERAL (SELECT UNNEST(generate_series(
                 1, (n_chars // {_SC_FRAME}) * {_SC_FRAME})) AS i)
        WHERE n_chars >= {2 * _SC_FRAME}
    ),
    e AS (
        SELECT doc_id, f, SUM(byte) AS en FROM b GROUP BY 1, 2
    ),
    d AS (
        SELECT doc_id, f, en,
               LAG(en) OVER (PARTITION BY doc_id ORDER BY f) AS pe
        FROM e
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN pe IS NOT NULL
                          AND ABS(en - pe) * 20 > pe
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
           MIN(CASE WHEN pe IS NOT NULL AND ABS(en - pe) * 20 > pe
                    THEN f END) AS first_cut
    FROM d GROUP BY doc_id
    """,
)
def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCENE-CUT detection over the binary (video-analog) column:
    payloads split into consecutive fixed-width frames (the
    ``mm_frame_sample`` frame model), per-frame energy summed, a CUT
    flagged wherever energy moves more than 5% frame-over-frame — the
    shot-boundary / scene-segmentation pass a video curation pipeline
    runs before sampling frames for captioning (sample AROUND cuts, not
    uniformly). Per doc: frame count, cut count, first cut position.

    The decode stub keeps the same byte-deterministic contract as the
    rest of the multimodal family, which makes the whole temporal
    pipeline SQL-mirrorable: frame assignment is integer division,
    energies are integer sums, and the cut test is the cross-multiplied
    integer inequality |e−pe|·20 > pe — no float anywhere, so the row
    is FULL despite modeling a perceptual operation.

    Shape: one Arrow pass (or JVM explode — here the frame table comes
    from the exploded byte positions) + a doc_id-clustered lag window +
    one per-doc aggregate: linear, clustered on the natural key
    end-to-end. A real decoder swap changes only the energy definition
    (pixel-difference SAD instead of byte sums)."""
    t = Tables(spark, sf_dir)
    docs = (
        t.documents.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .where(F.col("n_chars") >= 2 * _SC_FRAME)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(1),
                    (F.floor(F.col("n_chars") / _SC_FRAME) * _SC_FRAME).cast(
                        "int"
                    ),
                )
            ).alias("i"),
            "text",
        )
    )
    frames = (
        docs.select(
            "doc_id",
            F.floor((F.col("i") - 1) / _SC_FRAME).alias("f"),
            F.ascii(F.expr("substring(text, i, 1)")).alias("byte"),
        )
        .groupBy("doc_id", "f")
        .agg(F.sum("byte").alias("en"))
    )
    w = W.partitionBy("doc_id").orderBy("f")
    d = frames.withColumn("pe", F.lag("en").over(w))
    is_cut = F.col("pe").isNotNull() & (
        F.abs(F.col("en") - F.col("pe")) * 20 > F.col("pe")
    )
    return d.groupBy("doc_id").agg(
        F.count("*").alias("n_frames"),
        F.sum(F.when(is_cut, 1).otherwise(0)).alias("n_cuts"),
        F.min(F.when(is_cut, F.col("f"))).alias("first_cut"),
    )


# --------------------------------------------------------------------------
# rel_merge_upsert
# --------------------------------------------------------------------------


@query(
    "rel_merge_upsert",
    oracle="""
    WITH base AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 3 IN (0, 1)
    ),
    delta AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) + 500 AS cents,
               CASE WHEN o_orderkey % 6 = 0 THEN 'D'
                    WHEN o_orderkey % 3 = 2 THEN 'I'
                    ELSE 'U' END AS op
        FROM orders WHERE o_orderkey % 3 IN (1, 2) OR o_orderkey % 6 = 0
    ),
    merged AS (
        SELECT COALESCE(b.k, d.k) AS k,
               CASE WHEN d.op = 'D' THEN 'deleted'
                    WHEN d.k IS NULL THEN 'kept'
                    WHEN b.k IS NULL THEN 'inserted'
                    ELSE 'updated' END AS action,
               CASE WHEN d.op = 'D' THEN NULL
                    WHEN d.k IS NULL THEN b.cents
                    ELSE d.cents END AS cents
        FROM base b FULL OUTER JOIN delta d ON b.k = d.k
    )
    SELECT action,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(cents) / 100.0, 2) AS sum_price
    FROM merged GROUP BY action
    """,
)
def rel_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse MERGE (CDC apply): a change batch with UPDATE /
    INSERT / DELETE ops applied to a base snapshot in one pass — the
    write-side primitive behind every Delta/Iceberg `MERGE INTO`, and
    the op that turns a stream of change events into a queryable table
    (``rel_scd2_merge`` keeps HISTORY; this row produces the current
    snapshot plus the audit counts an ingestion job reports).

    Fixture framing: base = orders with key % 3 in (0,1); the delta
    updates key%3==1 rows (+5.00), inserts key%3==2 rows, and
    tombstones key%6==0. Apply = ONE full-outer join on the key with a
    CASE router; output = per-action row counts and amounts. Prices
    quantize to integer cents once (the +5.00 is +500 exact), sums stay
    integer, one final /100 for display — bit-stable across engines.

    Scale shape: MERGE is a single shuffle join on the merge key. On a
    partitioned/bucketed base the join co-locates (only touched
    partitions rewrite — the same PartitionFilters story as the layout
    rows); the delta side is typically small enough to broadcast, which
    turns MERGE into a map-side operation over the base scan."""
    t = Tables(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = t.orders.where(F.col("o_orderkey") % 3 < 2).select(
        F.col("o_orderkey").alias("k"), cents.alias("b_cents")
    )
    delta = (
        t.orders.where(
            (F.col("o_orderkey") % 3 > 0) | (F.col("o_orderkey") % 6 == 0)
        )
        .select(
            F.col("o_orderkey").alias("k"),
            (cents + 500).alias("d_cents"),
            F.when(F.col("o_orderkey") % 6 == 0, "D")
            .when(F.col("o_orderkey") % 3 == 2, "I")
            .otherwise("U")
            .alias("op"),
        )
    )
    merged = base.join(delta, "k", "full_outer").select(
        F.when(F.col("op") == "D", "deleted")
        .when(F.col("op").isNull(), "kept")
        .when(F.col("b_cents").isNull(), "inserted")
        .otherwise("updated")
        .alias("action"),
        F.when(F.col("op") == "D", F.lit(None).cast("bigint"))
        .when(F.col("op").isNull(), F.col("b_cents"))
        .otherwise(F.col("d_cents"))
        .alias("cents"),
    )
    return merged.groupBy("action").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("cents") / 100.0, 2).alias("sum_price"),
    )


# --------------------------------------------------------------------------
# graph_copurchase
# --------------------------------------------------------------------------

_CP_MIN_SHARED = 20  # keep supplier pairs sharing at least this many buyers
_CP_FANOUT_CAP = 64  # per-customer top-N suppliers by spend enter the join


@query(
    "graph_copurchase",
    oracle=f"""
    WITH links AS (
        SELECT o.o_custkey AS c, l.l_suppkey AS s,
               SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                   AS spend
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    e0 AS (
        SELECT c, s FROM (
            SELECT c, s, ROW_NUMBER() OVER (
                PARTITION BY c ORDER BY spend DESC, s) AS rn
            FROM links
        ) WHERE rn <= {_CP_FANOUT_CAP}
    ),
    deg AS (SELECT s, COUNT(*) AS d FROM e0 GROUP BY s),
    pairs AS (
        SELECT a.s AS s1, b.s AS s2, COUNT(*) AS shared
        FROM e0 a JOIN e0 b ON a.c = b.c AND a.s < b.s
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_CP_MIN_SHARED}
    )
    SELECT p.s1, p.s2,
           CAST(p.shared AS BIGINT) AS shared_customers,
           ROUND(p.shared * 1.0 / (d1.d + d2.d - p.shared), 6)
               AS jaccard
    FROM pairs p
    JOIN deg d1 ON d1.s = p.s1
    JOIN deg d2 ON d2.s = p.s2
    """,
)
def graph_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIPARTITE PROJECTION (the AᵀA co-occurrence join): supplier
    pairs weighted by shared customers, with Jaccard affinity — the
    item-item co-occurrence matrix behind every "customers who bought X
    also bought Y" recommender, and the graph construction that turns a
    purchase log into an item graph (community detection / label
    propagation run downstream on exactly this).

    Scale shape and its hazard: the pair join keys on the CUSTOMER (one
    row per customer-supplier link, self-joined per customer), so cost
    is Σ_c fanout(c)² — a single promiscuous key explodes
    quadratically, and AQE skew-split only re-balances the shuffle, it
    does not reduce the quadratic work volume. The IN-PLAN cap: each
    customer contributes only its top-{_CP_FANOUT_CAP} suppliers by
    spend (integer-cent ranked, supplier-id tie-break — deterministic on
    both engines), bounding every key's pair work at cap² regardless of
    corpus (the semantics change is explicit and mirrored in the
    oracle, the ``text.py`` DF-cap discipline; recommender practice
    anyway caps basket fanout — a customer buying everything carries no
    signal). The projection is then a hash aggregate on the pair key;
    degrees join back broadcast-sized. Jaccard = shared/(d1+d2−shared)
    in exact integers, one final float divide for display."""
    t = Tables(spark, sf_dir)
    links = (
        t.lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice")
        .join(
            F.broadcast(t.orders.select("o_orderkey", "o_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("spend")
        )
    )
    rn = F.row_number().over(
        W.partitionBy("c").orderBy(F.desc("spend"), "s")
    )
    e0 = (
        links.withColumn("rn", rn)
        .filter(F.col("rn") <= _CP_FANOUT_CAP)
        .select("c", "s")
    )
    deg = e0.groupBy("s").agg(F.count("*").alias("d"))
    a, b = e0.alias("a"), e0.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= _CP_MIN_SHARED)
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("d2"))
    return (
        pairs.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            F.col("shared").alias("shared_customers"),
            F.round(
                F.col("shared")
                * 1.0
                / (F.col("d1") + F.col("d2") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# traj_range_segments_2d
# --------------------------------------------------------------------------

_RS_EPS_U = 250_000  # eps in micro-units = 0.25 in the (day, value) plane
_RS_Q_USER = 1  # query trajectory


@query(
    "traj_range_segments_2d",
    oracle=f"""
    WITH t0 AS (
        SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0 FROM events
    ),
    p AS (
        SELECT user_id,
               (epoch_us(CAST(ts AS TIMESTAMP)) - (SELECT t0 FROM t0))
                   // 86400 AS x,
               CAST(ROUND(value * 1e6) AS BIGINT) AS y,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS seq
        FROM events
    ),
    s AS (
        SELECT * FROM (
            SELECT user_id, seq, x AS x1, y AS y1,
                   LEAD(x) OVER (PARTITION BY user_id ORDER BY seq) AS x2,
                   LEAD(y) OVER (PARTITION BY user_id ORDER BY seq) AS y2
            FROM p
        ) WHERE x2 IS NOT NULL AND user_id <> {_RS_Q_USER}
    ),
    qp AS (SELECT x AS qx, y AS qy FROM p WHERE user_id = {_RS_Q_USER}),
    sd AS (
        SELECT s.*, UNNEST(generate_series(
            x1 // {_RS_EPS_U}, x2 // {_RS_EPS_U})) AS cx
        FROM s
    ),
    cand AS (
        SELECT DISTINCT sd.user_id, sd.seq,
               sd.x1, sd.y1, sd.x2, sd.y2, q.qx, q.qy
        FROM sd JOIN (
            SELECT qx, qy, UNNEST(generate_series(
                qx // {_RS_EPS_U} - 1, qx // {_RS_EPS_U} + 1)) AS cx
            FROM qp
        ) q USING (cx)
    ),
    t AS (
        SELECT user_id, seq, qx, qy,
               (x2-x1)*(qx-x1) + (y2-y1)*(qy-y1) AS dotp,
               CAST((x2-x1) AS HUGEINT)*(x2-x1)
                   + CAST((y2-y1) AS HUGEINT)*(y2-y1) AS ab2,
               CAST((qx-x1) AS HUGEINT)*(qx-x1)
                   + CAST((qy-y1) AS HUGEINT)*(qy-y1) AS ap2,
               CAST((qx-x2) AS HUGEINT)*(qx-x2)
                   + CAST((qy-y2) AS HUGEINT)*(qy-y2) AS bp2,
               CAST((x2-x1) AS HUGEINT)*(qy-y1)
                   - CAST((y2-y1) AS HUGEINT)*(qx-x1) AS crs
        FROM cand
    )
    SELECT user_id, seq, CAST(COUNT(*) AS BIGINT) AS n_qpoints
    FROM t
    WHERE CASE
        WHEN ab2 = 0 OR dotp <= 0
            THEN ap2 <= {_RS_EPS_U * _RS_EPS_U}
        WHEN dotp >= ab2
            THEN bp2 <= {_RS_EPS_U * _RS_EPS_U}
        ELSE crs * crs
             <= CAST({_RS_EPS_U * _RS_EPS_U} AS HUGEINT) * ab2 END
    GROUP BY 1, 2
    """,
)
def traj_range_segments_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6's ``minDist(point, LineSegment)`` AT REFERENCE FIDELITY: the
    2-D range probe over SEGMENT geometry — every segment of every
    other trajectory within eps of ANY query-trajectory point, with the
    per-segment count of qualifying query points. The reference indexes
    LineSegments and answers circleRange with point-to-segment minDist
    [P §3.2, §4.2]; the earlier range row (``traj_range_query_2d``)
    probes POINTS — for sparsely-sampled trajectories the segment form
    is strictly more faithful (a path passes near q even when no SAMPLE
    does).

    Exactness: the point-to-segment distance test is decided entirely
    in integers on the micro-quantized plane (x = micro-days via
    integer div, y = micro-value): projection parameter cases by
    cross-multiplied dot products, interior distance by
    cross^2 <= eps^2 * |AB|^2 in 128-bit/DECIMAL arithmetic — no sqrt,
    no float, no boundary hazard. The quantization (<= 1.2e-5 days) is
    part of the operator contract and identical on both engines.

    Scale shape: segments scatter to the eps-cells of their x-extent,
    query points probe their 3-cell x-neighborhood (lossless: a segment
    within eps of q overlaps q's eps-cell neighborhood in x), the
    candidate join is an equi-join on the cell key, and DISTINCT
    collapses multi-cell hits before the exact predicate — the same
    prune-then-refine discipline as every other range row."""
    t = Tables(spark, sf_dir)
    p = points(t.user_points(), "seg_micro", corpus_t0(t.events)).select(
        "user_id", "seq", "x", "y"
    )
    w = W.partitionBy("user_id").orderBy("seq")
    seg = (
        p.where(F.col("user_id") != _RS_Q_USER)
        .select(
            "user_id",
            "seq",
            F.col("x").alias("x1"),
            F.col("y").alias("y1"),
            F.lead("x").over(w).alias("x2"),
            F.lead("y").over(w).alias("y2"),
        )
        .filter(F.col("x2").isNotNull())
        .withColumn(
            "cx",
            F.explode(
                F.sequence(
                    F.expr(f"x1 div {_RS_EPS_U}"),
                    F.expr(f"x2 div {_RS_EPS_U}"),
                )
            ),
        )
    )
    qp = (
        p.where(F.col("user_id") == _RS_Q_USER)
        .select(F.col("x").alias("qx"), F.col("y").alias("qy"))
        .withColumn(
            "cx",
            F.explode(
                F.sequence(
                    F.expr(f"qx div {_RS_EPS_U} - 1"),
                    F.expr(f"qx div {_RS_EPS_U} + 1"),
                )
            ),
        )
    )
    cand = (
        seg.join(F.broadcast(qp), "cx")
        .select(
            "user_id", "seq", "x1", "y1", "x2", "y2", "qx", "qy"
        )
        .distinct()
    )
    d = "decimal(38,0)"
    dotp = (F.col("x2") - F.col("x1")) * (F.col("qx") - F.col("x1")) + (
        F.col("y2") - F.col("y1")
    ) * (F.col("qy") - F.col("y1"))
    ab2 = (
        ((F.col("x2") - F.col("x1")).cast(d) * (F.col("x2") - F.col("x1")))
        + ((F.col("y2") - F.col("y1")).cast(d) * (F.col("y2") - F.col("y1")))
    )
    ap2 = (
        ((F.col("qx") - F.col("x1")).cast(d) * (F.col("qx") - F.col("x1")))
        + ((F.col("qy") - F.col("y1")).cast(d) * (F.col("qy") - F.col("y1")))
    )
    bp2 = (
        ((F.col("qx") - F.col("x2")).cast(d) * (F.col("qx") - F.col("x2")))
        + ((F.col("qy") - F.col("y2")).cast(d) * (F.col("qy") - F.col("y2")))
    )
    crs = ((F.col("x2") - F.col("x1")).cast(d) * (F.col("qy") - F.col("y1"))) - (
        (F.col("y2") - F.col("y1")).cast(d) * (F.col("qx") - F.col("x1"))
    )
    e2 = F.lit(_RS_EPS_U * _RS_EPS_U).cast(d)
    within = (
        F.when((ab2 == 0) | (dotp <= 0), ap2 <= e2)
        .when(dotp.cast(d) >= ab2, bp2 <= e2)
        .otherwise(crs * crs <= e2 * ab2)
    )
    return (
        cand.filter(within)
        .groupBy("user_id", "seq")
        .agg(F.count("*").alias("n_qpoints"))
    )


# --------------------------------------------------------------------------
# traj_hausdorff_segments_pair_2d
# --------------------------------------------------------------------------

_HS2_A = 1  # the trajectory pair under comparison
_HS2_B = 2


@query(
    "traj_hausdorff_segments_pair_2d",
    oracle=f"""
    WITH t0 AS (
        SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0 FROM events
    ),
    p AS (
        SELECT user_id,
               (epoch_us(CAST(ts AS TIMESTAMP)) - (SELECT t0 FROM t0))
                   // 86400 AS x,
               CAST(ROUND(value * 1e6) AS BIGINT) AS y,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS seq
        FROM events WHERE user_id IN ({_HS2_A}, {_HS2_B})
    ),
    s AS (
        SELECT * FROM (
            SELECT user_id, seq, x AS x1, y AS y1,
                   LEAD(x) OVER (PARTITION BY user_id ORDER BY seq) AS x2,
                   LEAD(y) OVER (PARTITION BY user_id ORDER BY seq) AS y2
            FROM p
        ) WHERE x2 IS NOT NULL
    ),
    d AS (
        SELECT a.user_id AS pu, a.x AS qx, a.y AS qy,
               CASE WHEN CAST((b.x2-b.x1) AS HUGEINT)*(b.x2-b.x1)
                         + CAST((b.y2-b.y1) AS HUGEINT)*(b.y2-b.y1) = 0
                     OR (b.x2-b.x1)*(a.x-b.x1)
                        + (b.y2-b.y1)*(a.y-b.y1) <= 0
                 THEN CAST(CAST((a.x-b.x1) AS HUGEINT)*(a.x-b.x1)
                           + CAST((a.y-b.y1) AS HUGEINT)*(a.y-b.y1)
                           AS DOUBLE)
                 WHEN (b.x2-b.x1)*(a.x-b.x1) + (b.y2-b.y1)*(a.y-b.y1)
                      >= CAST((b.x2-b.x1) AS HUGEINT)*(b.x2-b.x1)
                         + CAST((b.y2-b.y1) AS HUGEINT)*(b.y2-b.y1)
                 THEN CAST(CAST((a.x-b.x2) AS HUGEINT)*(a.x-b.x2)
                           + CAST((a.y-b.y2) AS HUGEINT)*(a.y-b.y2)
                           AS DOUBLE)
                 ELSE CAST(CAST((b.x2-b.x1) AS HUGEINT)*(a.y-b.y1)
                           - CAST((b.y2-b.y1) AS HUGEINT)*(a.x-b.x1)
                           AS DOUBLE)
                      * CAST(CAST((b.x2-b.x1) AS HUGEINT)*(a.y-b.y1)
                             - CAST((b.y2-b.y1) AS HUGEINT)*(a.x-b.x1)
                             AS DOUBLE)
                      / CAST(CAST((b.x2-b.x1) AS HUGEINT)*(b.x2-b.x1)
                             + CAST((b.y2-b.y1) AS HUGEINT)*(b.y2-b.y1)
                             AS DOUBLE)
                 END AS d2
        FROM p a JOIN s b ON a.user_id <> b.user_id
    ),
    nn AS (SELECT pu, qx, qy, MIN(d2) AS nd FROM d GROUP BY 1, 2, 3),
    h AS (SELECT pu, MAX(nd) AS h2 FROM nn GROUP BY 1)
    SELECT ROUND(SQRT((SELECT h2 FROM h WHERE pu = {_HS2_A})) / 1e6, 6)
               AS h_ab,
           ROUND(SQRT((SELECT h2 FROM h WHERE pu = {_HS2_B})) / 1e6, 6)
               AS h_ba,
           ROUND(GREATEST(
               SQRT((SELECT h2 FROM h WHERE pu = {_HS2_A})),
               SQRT((SELECT h2 FROM h WHERE pu = {_HS2_B}))) / 1e6, 6)
               AS hausdorff_seg
    """,
)
def traj_hausdorff_segments_pair_2d(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R15 AT REFERENCE FIDELITY in 2-D: the segment-based Hausdorff
    between two trajectories — every point of A measures its minDist to
    the SEGMENTS of B (not B's samples), and vice versa; H = max of the
    two directed maxima. For sparsely-sampled trajectories this is the
    reference's actual semantic [P §3.2]: a point passing close to B's
    PATH between two distant samples scores near-zero here but large in
    the point-set Hausdorff (``traj_hausdorff_pair_2d``).

    Exactness: every CASE branch of the point-to-segment distance is
    chosen by integer comparisons (projection parameter cross-
    multiplied); d² itself is either an exact 128-bit integer converted
    once to double, or an exact-integer square divided by an exact-
    integer length — both engines convert the SAME exact integers with
    the same IEEE rounding, so the min/max lattice is bit-identical;
    sqrt + /1e6 is the single display step.

    Shape: a 2-trajectory probe — points x segments of the other side,
    both tiny; at corpus scale the pairing sits behind the same grid
    prune as every other 2-D row (this is the PAIR tier; the search
    tiers reuse ``traj_range_segments_2d``'s cell scatter)."""
    t = Tables(spark, sf_dir)
    p = (
        points(t.user_points(), "seg_micro", corpus_t0(t.events))
        .where(F.col("user_id").isin(_HS2_A, _HS2_B))
        .select("user_id", "seq", "x", "y")
    )
    w = W.partitionBy("user_id").orderBy("seq")
    seg = (
        p.select(
            F.col("user_id").alias("su"),
            F.col("x").alias("x1"),
            F.col("y").alias("y1"),
            F.lead("x").over(w).alias("x2"),
            F.lead("y").over(w).alias("y2"),
        )
        .filter(F.col("x2").isNotNull())
    )
    d = "decimal(38,0)"
    pair = p.join(F.broadcast(seg), F.col("user_id") != F.col("su"))
    ab2 = (
        (F.col("x2") - F.col("x1")).cast(d) * (F.col("x2") - F.col("x1"))
        + (F.col("y2") - F.col("y1")).cast(d) * (F.col("y2") - F.col("y1"))
    )
    dotp = (F.col("x2") - F.col("x1")) * (F.col("x") - F.col("x1")) + (
        F.col("y2") - F.col("y1")
    ) * (F.col("y") - F.col("y1"))
    ap2 = (
        (F.col("x") - F.col("x1")).cast(d) * (F.col("x") - F.col("x1"))
        + (F.col("y") - F.col("y1")).cast(d) * (F.col("y") - F.col("y1"))
    )
    bp2 = (
        (F.col("x") - F.col("x2")).cast(d) * (F.col("x") - F.col("x2"))
        + (F.col("y") - F.col("y2")).cast(d) * (F.col("y") - F.col("y2"))
    )
    crs = (
        (F.col("x2") - F.col("x1")).cast(d) * (F.col("y") - F.col("y1"))
        - (F.col("y2") - F.col("y1")).cast(d) * (F.col("x") - F.col("x1"))
    )
    d2 = (
        F.when(
            (ab2 == 0) | (dotp <= 0), ap2.cast("double")
        )
        .when(dotp.cast(d) >= ab2, bp2.cast("double"))
        .otherwise(
            crs.cast("double") * crs.cast("double") / ab2.cast("double")
        )
    )
    nn = (
        pair.select("user_id", "x", "y", d2.alias("d2"))
        .groupBy("user_id", "x", "y")
        .agg(F.min("d2").alias("nd"))
    )
    h = nn.groupBy("user_id").agg(F.max("nd").alias("h2"))
    ha = h.where(F.col("user_id") == _HS2_A).select(
        F.col("h2").alias("h2a")
    )
    hb = h.where(F.col("user_id") == _HS2_B).select(
        F.col("h2").alias("h2b")
    )
    return (
        ha.join(F.broadcast(hb))
        .select(
            F.round(F.sqrt("h2a") / 1e6, 6).alias("h_ab"),
            F.round(F.sqrt("h2b") / 1e6, 6).alias("h_ba"),
            F.round(
                F.greatest(F.sqrt("h2a"), F.sqrt("h2b")) / 1e6, 6
            ).alias("hausdorff_seg"),
        )
    )
