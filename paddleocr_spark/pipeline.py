"""The flagship extraction pipeline — PP-Structure recovery path, Spark-first.

Restates the reference dataflow (SURVEY.md §3.2):

    documents → explode spans → geometry (JVM) → det filter P9 (JVM)
    → drop_score P10 (JVM) → style strip P11 (JVM replace chain)
    → mapInArrow kernel (sorted_boxes O1 + region segmentation D1 +
      sorted_layout_boxes O2 + ordered emission O5, Arrow-native
      reassembly)
    → extracted (doc_id, spans array<struct<kind,text,media_ref,offset>>)

No payload shuffle: one documents row is a whole document, so after the
explode its spans are already contiguous, in span_idx order, inside one
task, and the kernel runs there (``assemble``). Everything before it is
whole-stage codegen in the same task, and the kernel emits fully
assembled documents, so no re-aggregation shuffle follows either. The
only exchange left is ``ensure_input_parallelism``'s round-robin widening
of an under-partitioned scan, which moves whole document rows.
``order_and_assemble`` is the shuffled entry for spans that were moved
between partitions. The kernel is ``mapInArrow`` (not per-group
``applyInPandas``, not pandas) — see ``assemble``. It orders every
document of an Arrow batch at once (``_order_ranks``, no per-document
Python call) and moves string columns only by vectorized Arrow ``take``.
``kernels.order_document`` is the per-document spec it must equal;
reference parity citations live in paddleocr_spark/kernels.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, StringType, StructField,
                               StructType)

from . import geometry as G
from .batches import carry_groups
from .kernels import order_document  # noqa: F401 (executable spec)

EXTRACTED_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", ArrayType(StructType([
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]))),
])


def explode_spans(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → one row per span with its array position."""
    return documents.select(
        "doc_id",
        F.posexplode("spans").alias("span_idx", "span"),
    ).select(
        "doc_id", "span_idx",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def with_geometry(spans: DataFrame) -> DataFrame:
    """Derive the span box from (kind, text, offset) — geometry.py constants.

    x = offset MOD page_width, y = offset DIV page_width (FIXTURES.md §1);
    extent from kind/text length. Pure JVM expressions.
    """
    x1 = (F.col("offset") % G.PAGE_WIDTH).alias("x1")
    y1 = F.floor(F.col("offset") / G.PAGE_WIDTH).cast("int").alias("y1")
    h = (
        F.when(F.col("kind") == "text", G.KIND_HEIGHT["text"])
        .when(F.col("kind") == "title", G.KIND_HEIGHT["title"])
        .when(F.col("kind") == "table", G.KIND_HEIGHT["table"])
        .otherwise(G.KIND_HEIGHT["media"])
    )
    tlen = F.length(F.coalesce(F.col("text"), F.lit("")))
    w = (
        F.when(F.col("kind") == "media", G.KIND_WIDTH_FIXED["media"])
        .when(F.col("kind") == "table", G.KIND_WIDTH_FIXED["table"])
        .when(F.col("kind") == "title", G.KIND_WIDTH_FIXED["title"])
        .when(tlen == 0, G.EMPTY_TEXT_WIDTH)
        .otherwise(F.lit(G.TEXT_WIDTH_BASE) + tlen % G.TEXT_WIDTH_MOD)
    )
    df = spans.select("*", x1, y1, w.alias("w"), h.alias("h"))
    return df.select(
        "*",
        (F.col("x1") + F.col("w")).alias("x2"),
        (F.col("y1") + F.col("h")).alias("y2"),
    ).drop("w", "h")


def det_keep_predicate():
    """P9 keep condition: every side > 3 px (predict_det.py:209-223)."""
    return (((F.col("x2") - F.col("x1")) > G.MIN_SIDE)
            & ((F.col("y2") - F.col("y1")) > G.MIN_SIDE))


def det_filter(spans: DataFrame) -> DataFrame:
    """P9: drop boxes with any side ≤ 3 px (predict_det.py:209-223)."""
    return spans.filter(det_keep_predicate())


def drop_score_filter(spans: DataFrame,
                      drop_score: float = G.DROP_SCORE) -> DataFrame:
    """P10: keep text lines iff rec-confidence ≥ drop_score
    (predict_system.py:117-125; confidence analog per geometry.py).

    Integer milli-score comparison so the 0.500 boundary is exact.

    The did parse is deliberately coupled to the synth corpus's
    'doc_<number>' ids: the score is a deterministic stand-in for a model
    confidence that in production arrives as its own column — this
    expression is the fixture, not a general doc_id contract.
    """
    return spans.filter(score_keep_predicate(drop_score))


def score_keep_predicate(drop_score: float = G.DROP_SCORE):
    """P10 keep condition as a reusable Column (see drop_score_filter)."""
    did = F.expr("CAST(substring(doc_id, 5) AS LONG)")
    smod = (did * 7 + F.col("span_idx") * 173) % G.SCORE_MOD
    milli = G.SCORE_BASE_MILLI + F.floor(
        smod * G.SCORE_SPREAD_NUM / G.SCORE_SPREAD_DEN).cast("long")
    thresh = int(round(drop_score * G.SCORE_MOD))
    return (F.col("kind") != "text") | (milli >= thresh)


def strip_styles(spans: DataFrame) -> DataFrame:
    """P11: remove the reference style_token set — chained literal JVM
    ``replace`` calls in the reference's token order.

    ppstructure/predict_system.py:151-162; the token list omits '</strike>'
    (kernels.STYLE_TOKENS quirk) and lists '<strike>' twice (kept — the
    second pass is a no-op). Round 3 replaced the single-pass regexp
    alternation with the sequential chain: the two differ whenever
    removing one token CREATES a token that appears LATER in the list
    (e.g. '<i<b>>' → reference yields '', single-pass regexp '<i>') — a
    corpus-independent guarantee instead of the round-2 corpus property.
    All 14 replaces stay inside whole-stage codegen (literal, no regex
    engine).
    """
    from .kernels import STYLE_TOKENS
    col = F.col("text")
    for tok in STYLE_TOKENS:
        col = F.replace(col, F.lit(tok), F.lit(""))
    # exact short-circuit: every token contains '<', so a text without
    # '<' is a fixed point of the whole chain (~70% of spans on the synth
    # corpus, more on real web text). Measured at 8 cores on a 775k-span
    # corpus: chain 1.60 s, old single-pass regexp 1.88 s, guarded chain
    # 1.53 s — the literal chain beats the regex engine even unguarded.
    return spans.withColumn(
        "text", F.when(F.instr("text", "<") == 0, F.col("text"))
        .otherwise(col))


def _bubble(line, doc, x1, y1):
    """O1's restricted bubble pass (kernels.sorted_boxes_indices), applied
    in place to ``line`` — the (doc, y, x) lexsort of the batch.

    The reference moves the box at position i+1 left while its left
    neighbour is within 10 px in y and further right. Boxes left of it are
    never lower, so no box crosses a y-step of 10 px or more: the pass runs
    on each chain of sub-10 px steps that has an adjacent pair out of x
    order (elsewhere nothing moves). Chain positions are walked in Python,
    each step one NumPy op across all such chains.
    """
    ys, xs = y1[line], x1[line]
    link = (doc[1:] == doc[:-1]) & (ys[1:] - ys[:-1] < 10)
    starts = np.flatnonzero(np.concatenate([[True], ~link]))
    sizes = np.diff(np.append(starts, len(line)))
    chain = np.repeat(np.arange(len(starts)), sizes)
    todo = np.unique(chain[1:][link & (xs[1:] < xs[:-1])])
    s, size = starts[todo], sizes[todo]
    for i in range(int(size.max(initial=1)) - 1):
        live = size > i + 1
        s, size = s[live], size[live]
        lo, g = s, s + i
        while g.size:
            a, b = line[g], line[g + 1]
            swap = (np.abs(y1[b] - y1[a]) < 10) & (x1[b] < x1[a])
            lo, g, a, b = lo[swap], g[swap], a[swap], b[swap]
            line[g], line[g + 1] = b, a
            g = g - 1
            keep = g >= lo
            lo, g = lo[keep], g[keep]


def _order_ranks(doc_codes, kind_codes, text_code, x1, y1, x2, y2):
    """Reading order of every document in a batch, in one vectorized pass.

    Args are aligned arrays, each doc's rows contiguous in span_idx
    order (``doc_codes`` grouped, docs in any order); kinds arrive
    dictionary-encoded (``text_code`` = code of 'text' or -1). Returns
    (starts, take, offsets): document start indices, a take-index array
    mapping output position → input row (docs in input order, spans in
    reading order), and the within-doc output offsets.

    Computes exactly kernels.order_document for each doc:

    1. O1 pre-sort: stable (doc, y, x) lexsort (ties keep input order,
       like Python's sorted()), then the bubble pass (``_bubble``).
    2. D1 regions: kernels.segment_regions' join conditions on adjacent
       lines of the bubbled order; region boxes by ``reduceat``.
    3. O2 as a sort key. sorted_layout_indices pre-sorts a doc's regions
       by (y1, x1) and scans them, buffering left-column and right-column
       regions until a 'single' flushes left, then right, then itself.
       So a region's emission position is (singles before it, class
       left < right < single, scan position). The last region of a
       multi-region doc takes the reference's dedicated branch
       (recovery_to_doc.py:109-127): 'single' when strictly below its
       predecessor and straddling w/2, else right if x2 > w/2, else left
       if x1 < w/2. A single last region is emitted after the left and
       right buffers, exactly where a right one is, so only x2 > w/2
       decides between the two.
    4. Lines are emitted by (doc, region rank, bubbled position).

    Equality with order_document is pinned by a hypothesis differential
    (tests/test_kernels.py) and the committed flagship fixture oracle.
    """
    n = len(doc_codes)
    bounds = np.flatnonzero(doc_codes[1:] != doc_codes[:-1]) + 1
    starts = np.concatenate([[0], bounds])
    sizes = np.diff(np.concatenate([starts, [n]]))
    doc = np.repeat(np.arange(len(starts)), sizes)

    # 1. O1 line order; doc stays grouped and ascending, so doc[line] == doc.
    line = np.lexsort((x1, y1, doc))
    _bubble(line, doc, x1, y1)
    xs, ys, x2s, y2s = x1[line], y1[line], x2[line], y2[line]
    ks = kind_codes[line]

    # 2. Region runs on the bubbled order.
    h_prev = np.maximum(y2s[:-1] - ys[:-1], 1)
    gap = ys[1:] - y2s[:-1]
    x_overlap = ~((xs[1:] >= x2s[:-1]) | (x2s[1:] <= xs[:-1]))
    joins = ((doc[1:] == doc[:-1]) & (ks[1:] == text_code)
             & (ks[:-1] == text_code) & (gap < 1.5 * h_prev)
             & (gap > -h_prev) & x_overlap)
    r_starts = np.flatnonzero(np.concatenate([[True], ~joins]))
    r_doc = doc[r_starts]
    rx1 = np.minimum.reduceat(xs, r_starts)
    ry1 = np.minimum.reduceat(ys, r_starts)
    rx2 = np.maximum.reduceat(x2s, r_starts)

    # 3. O2: scan order = stable (doc, y1, x1) pre-sort of the regions.
    scan = np.lexsort((rx1, ry1, r_doc))
    rx1, rx2 = rx1[scan], rx2[scan]
    w = float(G.PAGE_WIDTH)
    left = (rx1 < w / 4) & (rx2 < 3 * w / 4)
    right = (rx1 > w / 4) & (rx2 > w / 2)
    cls = np.where(left, 0, np.where(right, 1, 2))
    last = np.flatnonzero(np.concatenate([r_doc[1:] != r_doc[:-1], [True]]))
    last = last[(last > 0) & (r_doc[last - 1] == r_doc[last])]
    cls[last] = np.select([rx2[last] > w / 2, rx1[last] < w / 2], [1, 0], -1)
    if (cls[last] < 0).any():
        # The reference silently drops the region (and its buffers) here;
        # P9 guarantees x2 > x1, so this can only be a corrupt box.
        raise ValueError("last layout region has x2 <= w/2 <= x1")
    single = cls == 2
    segment = np.cumsum(single) - single
    region_rank = np.empty(len(scan), dtype=np.int64)
    emitted = scan[np.lexsort((cls, segment, r_doc))]
    region_rank[emitted] = np.arange(len(scan))

    # 4. Lines by (doc, region rank, bubbled position).
    line_region = np.repeat(region_rank, np.diff(np.append(r_starts, n)))
    take = line[np.argsort(line_region, kind="stable")]
    offsets = np.arange(n, dtype=np.int64) - np.repeat(starts, sizes)
    return starts, take, offsets


def _emit_arrow(tbl: "pa.Table"):
    """Assemble one run of complete documents into an Arrow RecordBatch of
    (doc_id, spans) — all column movement via vectorized Arrow take and
    dictionary codes, never through per-span Python objects."""
    import pyarrow as pa
    import pyarrow.compute as pc

    doc_col = tbl.column("doc_id").combine_chunks()
    kind_col = tbl.column("kind").combine_chunks()
    doc_codes = np.asarray(doc_col.dictionary_encode().indices)
    kind_enc = kind_col.dictionary_encode()
    kind_codes = np.asarray(kind_enc.indices)
    text_code = kind_enc.dictionary.index("text").as_py()  # -1: no text
    starts, take, offsets = _order_ranks(
        doc_codes, kind_codes, text_code,
        *(tbl.column(c).to_numpy() for c in ("x1", "y1", "x2", "y2")))

    idx = pa.array(take)
    kind_o = pc.take(kind_col, idx)
    text_o = pc.take(tbl.column("text").combine_chunks(), idx)
    ref_o = pc.take(tbl.column("media_ref").combine_chunks(), idx)
    struct = pa.StructArray.from_arrays(
        [kind_o, text_o, ref_o, pa.array(offsets, type=pa.int32())],
        names=["kind", "text", "media_ref", "offset"])
    list_offsets = pa.array(
        np.concatenate([starts, [len(doc_codes)]]).astype(np.int32))
    spans = pa.ListArray.from_arrays(list_offsets, struct)
    doc_ids = pc.take(doc_col, pa.array(starts))
    return pa.RecordBatch.from_arrays([doc_ids, spans],
                                      names=["doc_id", "spans"])


def _assemble_arrow(it):
    """mapInArrow body: batches of one partition arrive with each
    document's spans contiguous and in span_idx order; the last (possibly
    incomplete) document of each batch is carried into the next before
    assembly."""
    return carry_groups(it, ["doc_id"], _emit_arrow)


def assemble(spans: DataFrame) -> DataFrame:
    """Reading-order resolution + document re-assembly, map-side.

    Precondition: each document's spans are contiguous within ONE
    partition, in span_idx order. ``explode_spans`` over whole-document
    rows (doc_id unique — the table key) followed only by row-local
    stages gives exactly that, so the kernel runs in the scan's own tasks
    with no exchange and no sort. Use ``order_and_assemble`` when spans
    may have moved between partitions.

    ``mapInArrow`` rather than ``groupBy(doc_id).applyInPandas``: per-group
    applyInPandas pays Arrow slicing + pandas construction per document —
    ruinous for web-scale corpora of small docs (40k docs/task at sf0.1 ⇒
    the Python stage dominated wall time ~2×).
    """
    return spans.select(
        "doc_id", "span_idx", "kind", "text", "media_ref",
        "x1", "y1", "x2", "y2",
    ).mapInArrow(_assemble_arrow, schema=EXTRACTED_SCHEMA)


def order_and_assemble(spans: DataFrame,
                       num_partitions: int | None = None) -> DataFrame:
    """``assemble`` after regrouping spans by document (one shuffle).

    The general entry for spans that may sit in any partition and order
    (the registry's ``OrderAssemble`` stage): hash partitioning on doc_id
    lands each document whole in one partition, and the within-partition
    sort restores ``assemble``'s precondition, so output is independent
    of both partition count and input row order. The repartition count is
    explicit because AQE coalesces shuffle partitions by BYTE size, while
    this stage is CPU-bound in Python at very low bytes/CPU — byte-based
    coalescing collapsed it to ~9 tasks on 32 cores; an explicit count is
    exempt from AQE coalescing.
    """
    if num_partitions is None:
        sc = spans.sparkSession.sparkContext
        num_partitions = sc.defaultParallelism * 2
    return assemble(spans.repartition(num_partitions, "doc_id")
                    .sortWithinPartitions("doc_id", "span_idx"))


def ensure_input_parallelism(documents: DataFrame,
                             min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition when the scan is under-partitioned.

    A single small parquet file (or a handful of Iceberg manifests) arrives
    as 1 task, serializing every narrow stage before the first shuffle. At
    production scale the Iceberg scan is already wide and this is a no-op
    check; in the sandbox it is the difference between 1 core and 32 doing
    the synth/explode/filter work.
    """
    sc = documents.sparkSession.sparkContext
    if min_partitions is None:
        min_partitions = sc.defaultParallelism
    if documents.rdd.getNumPartitions() < min_partitions:
        return documents.repartition(min_partitions)
    return documents


def extract(documents: DataFrame,
            drop_score: float = G.DROP_SCORE) -> DataFrame:
    """documents(doc_id, spans) → extracted(doc_id, spans ordered).

    Output 'offset' = reading-order rank 0..n-1 (FIXTURES.md §2). Documents
    whose spans are all filtered out do not appear (matching the reference,
    which emits nothing for empty results, predict_system.py:84-88).
    """
    documents = ensure_input_parallelism(documents)
    s = explode_spans(documents)
    s = with_geometry(s)
    s = det_filter(s)
    s = drop_score_filter(s, drop_score)
    s = strip_styles(s)
    return assemble(s)
