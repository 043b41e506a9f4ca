"""Near-duplicate detection for web-text corpora.

The reference dedups exactly-keyed rows (latest-timestamp-wins,
/root/reference/load/FilenameReducer.py:73-120). A training-data
pipeline additionally needs *content* dedup; this module provides the
standard ladder, each as a composition of built-in DataFrame ops —
no Python UDFs anywhere:

* exact          — hash-groupBy on content bytes
* minhash + LSH  — shingle -> k minhashes -> banded bucket join
* simhash        — 64-bit weighted-bit fingerprint + chunked hamming join
* n-gram jaccard — exact verification for candidate pairs

Scale notes: all candidate generation is equi-join-shaped (band/bucket
keys), so Spark shuffles by bucket key instead of computing O(n^2)
pairs; verification only runs on candidates. Hash functions are
xxhash64 with integer seeds — deterministic across runs/partitions.

``hash_fn="md5_60"`` switches the hashing to the top-60-bits of md5,
which (unlike xxhash64) every SQL engine computes identically — the
driver's DuckDB oracle re-derives the SAME signatures, bands, chunks
and candidate pairs, so the full LSH pipeline is value-checked, not
just the verify stage. xxhash64 stays the production default (faster,
seeded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _h60(col, seed: int):
    """Cross-engine 60-bit hash: first 15 hex chars of md5(col + '|' + seed)
    parsed base-16. Positive in a signed 64-bit lane on every engine, so
    min()/ordering agree between Spark and DuckDB/others."""
    return F.conv(
        F.substring(F.md5(F.concat_ws("|", col, F.lit(str(seed)))), 1, 15),
        16,
        10,
    ).cast("long")


def exact_dedup(df: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content: keeper = min(id). Returns
    (content_hash, n_copies, keeper)."""
    return df.groupBy(F.md5(F.col(content_col)).alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keeper")
    )


def _shingles(content_col: str, n: int):
    """Word n-gram shingles as an array column (JVM-side).

    Built with ``zip_with`` over shifted token arrays (r6): the
    previous ``transform(sequence, i -> concat_ws(slice(toks, i, n)))``
    form allocated a fresh sub-array per element inside an interpreted
    lambda and measured ~6x slower at corpus scale; pairwise
    ``concat`` over shifted copies produces byte-identical shingle
    strings (including the short-document single-shingle case) with
    one small array op per zip level."""
    toks = F.split(F.col(content_col), " ")
    z = toks
    for j in range(1, n):
        tj = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0)))
        z = F.zip_with(z, tj, lambda a, b: F.concat(a, F.lit(" "), b))
    if n == 1:
        return z
    # docs with >= n tokens: positions 0..size-n (drop the null-padded
    # tail); shorter docs: ONE shingle joining all tokens, exactly as
    # concat_ws over the whole (short) slice produced before
    return F.when(
        F.size(toks) >= n, F.slice(z, 1, F.size(toks) - (n - 1))
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<long>) — k independent minhashes over word
    shingles. One explode + one groupBy with k min-aggregates: a single
    shuffle keyed by doc id. ``hash_fn="md5_60"`` = oracle-reproducible
    hashing (see module docstring)."""
    sh = df.select(F.col(id_col), F.explode(_shingles(content_col, shingle_n)).alias("sh"))
    if hash_fn == "md5_60":
        aggs = [F.min(_h60(F.col("sh"), i)).alias(f"h{i}") for i in range(num_hashes)]
    else:
        aggs = [
            F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"h{i}") for i in range(num_hashes)
        ]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col), F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def lsh_band_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, band, bh) — one row per LSH band per document: the posting
    rows an equi-join (or a maintained index table,
    operators/neardup_index.py) matches on. In ``md5_60`` mode ``bh``
    is the raw comma-joined signature slice (engine-neutral string an
    oracle can re-derive); the xxhash64 default compresses it to a
    long for a smaller shuffle key."""
    rows = num_hashes // bands
    sig = minhash_signatures(df, id_col, content_col, num_hashes, shingle_n, hash_fn)

    def band_key(b):
        joined = F.concat_ws(
            ",",
            F.transform(F.slice(F.col("sig"), b * rows + 1, rows), lambda x: x.cast("string")),
        )
        return joined if hash_fn == "md5_60" else F.xxhash64(joined)

    return sig.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(b.alias("band"), band_key(b).alias("bh")),
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) whose minhash signatures
    collide in >=1 LSH band. Pair generation is an equi-join on
    (band_idx, band_hash) — no cross product. In ``md5_60`` mode the
    band key is the raw comma-joined signature slice (string): the
    engine-neutral form an oracle can re-derive; the xxhash64 default
    compresses it to a long for a smaller shuffle key."""
    banded = lsh_band_rows(df, id_col, content_col, num_hashes, bands, shingle_n, hash_fn)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bh")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact jaccard over word shingle SETS for candidate pairs only.
    Join-shaped: candidates x2 small lookups against the shingle-set
    table; array_intersect/union run JVM-side."""
    sets = df.select(
        F.col(id_col), F.array_distinct(_shingles(content_col, shingle_n)).alias("sset")
    )
    a = sets.select(F.col(id_col).alias("id_a"), F.col("sset").alias("set_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("sset").alias("set_b"))
    joined = candidates.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size(F.array_union("set_a", "set_b"))
    return (
        joined.select(
            "id_a",
            "id_b",
            F.round(inter / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "text"
) -> DataFrame:
    """(id, simhash: long) — 64-bit simhash over word tokens.

    One explode + one groupBy with 64 conditional sums (single
    shuffle); the bit-majority vote is assembled JVM-side. At 100 TB
    this is a map-side-combinable aggregation — scales linearly."""
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(content_col), " ")).alias("tok")
    ).withColumn("th", F.xxhash64("tok"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    votes = toks.groupBy(id_col).agg(*aggs)
    sh = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sh = term if sh is None else sh.bitwiseXOR(term)
    return votes.select(F.col(id_col), sh.alias("simhash"))


def simhash32x2(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "text"
) -> DataFrame:
    """(id, sh_lo, sh_hi) — 64-bit simhash carried as two 32-bit halves,
    built from md5-derived token hashes so any SQL engine reproduces the
    exact fingerprint (the oracle-checkable sibling of ``simhash``).

    Token hash: md5 hex chars 25-32 -> bits 0..31 (lo), chars 17-24 ->
    bits 32..63 (hi). Both halves are < 2^32, so they stay positive in
    signed 64-bit lanes everywhere — no sign/shift divergence between
    engines. Same single-shuffle shape as ``simhash``: one explode +
    one groupBy with 64 conditional sums (map-side combinable)."""
    md5h = F.md5(F.col("tok"))
    toks = (
        df.select(F.col(id_col), F.explode(F.split(F.col(content_col), " ")).alias("tok"))
        .withColumn("th_lo", F.conv(F.substring(md5h, 25, 8), 16, 10).cast("long"))
        .withColumn("th_hi", F.conv(F.substring(md5h, 17, 8), 16, 10).cast("long"))
    )
    aggs = []
    for half in ("lo", "hi"):
        for i in range(32):
            bit = F.shiftright(F.col(f"th_{half}"), i).bitwiseAND(F.lit(1))
            aggs.append(
                F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b_{half}_{i}")
            )
    votes = toks.groupBy(id_col).agg(*aggs)
    halves = {}
    for half in ("lo", "hi"):
        acc = None
        for i in range(32):
            bit = F.when(F.col(f"b_{half}_{i}") > 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            term = F.shiftleft(bit, i)
            acc = term if acc is None else acc + term
        halves[half] = acc
    return votes.select(
        F.col(id_col), halves["lo"].alias("sh_lo"), halves["hi"].alias("sh_hi")
    )


def simhash32x2_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    max_hamming: int = 7,
    n_chunks: int = 8,
) -> DataFrame:
    """Oracle-checkable sibling of ``simhash_near_dups``: identical
    pigeonhole candidate generation (8-bit chunk equi-join, guaranteed
    recall for hamming < n_chunks) over the two-half md5 fingerprint.
    Returns (id_a, id_b, hamming)."""
    if max_hamming >= n_chunks:
        raise ValueError("guaranteed recall needs max_hamming < n_chunks")
    if n_chunks != 8:
        raise ValueError("two-half layout supports n_chunks=8 (8-bit chunks)")
    sh = simhash32x2(df, id_col, content_col)
    chunk_structs = []
    for j in range(8):
        src = F.col("sh_lo") if j < 4 else F.col("sh_hi")
        shift = (j % 4) * 8
        chunk_structs.append(
            F.struct(
                F.lit(j).alias("ci"),
                F.shiftright(src, shift).bitwiseAND(F.lit(255)).alias("cv"),
            )
        )
    chunks = sh.select(
        F.col(id_col), "sh_lo", "sh_hi", F.explode(F.array(*chunk_structs)).alias("c")
    ).select(id_col, "sh_lo", "sh_hi", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    a = chunks.select(
        F.col(id_col).alias("id_a"), F.col("sh_lo").alias("lo_a"), F.col("sh_hi").alias("hi_a"), "ci", "cv"
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"), F.col("sh_lo").alias("lo_b"), F.col("sh_hi").alias("hi_b"), "ci", "cv"
    )
    hamming = F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))) + F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    )
    return (
        a.join(b, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    max_hamming: int = 7,
    n_chunks: int = 8,
) -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    Candidate generation by pigeonhole: the 64-bit hash splits into
    ``n_chunks`` equal chunks; any pair with hamming < n_chunks shares
    at least one exact chunk, so candidates come from an equi-join on
    (chunk_idx, chunk_value) and are verified with bit_count(xor).
    Guaranteed recall requires max_hamming < n_chunks. Smaller chunks
    = more candidate collisions: at corpus scale prefer n_chunks just
    above the target hamming (and/or pre-partition by a coarse key)."""
    if max_hamming >= n_chunks:
        raise ValueError("guaranteed recall needs max_hamming < n_chunks")
    chunk_bits = 64 // n_chunks
    mask = (1 << chunk_bits) - 1
    sh = simhash(df, id_col, content_col)
    chunks = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright(F.col("simhash"), i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("cv"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    a = chunks.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "ci", "cv")
    b = chunks.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "ci", "cv")
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def segment_windows(text_col, width: int, sep: str = " "):
    """Deterministic fixed-width word-window segmenter: split ``text``
    on ``sep`` and regroup into ``width``-token segments (the last one
    may be shorter). A stand-in line splitter for corpora without
    newline structure — ``segment_dedup`` itself takes ANY
    ``array<string>`` segmentation (real lines, sentences,
    paragraphs). Pure JVM expression, map-only."""
    toks = F.split(text_col, sep)
    n_segs = F.ceil(F.size(toks) / F.lit(width)).cast("int")
    return F.when(F.size(toks) > 0, F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(F.slice(toks, i * width + 1, width), sep),
    )).otherwise(F.array().cast("array<string>"))


def segment_dedup(
    df: DataFrame,
    segs_col: str = "segments",
    id_col: str = "doc_id",
    sep: str = " ",
) -> DataFrame:
    """Corpus-wide segment-level dedup — CCNet's line dedup (Wenzek et
    al. 2020, arXiv:1911.00359 §3.1): a segment whose exact content
    already appeared at a smaller (doc, position) anywhere in the
    corpus is dropped; only the FIRST occurrence survives (in-document
    repeats are deduped by the same rule). This is the pass that strips
    boilerplate headers/footers/nav text repeated across a crawl.

    Returns one row per input document:
    (id, n_segs, n_kept, clean_text) — kept segments re-joined with
    ``sep`` in original order (NULL clean_text when everything was
    dropped, which can only happen for non-first docs).

    Scale shape: posexplode -> groupBy(content hash) with a
    min(struct(doc,pos)) aggregate (map-side partial agg collapses a
    hot segment to ONE 16-byte struct per mapper, so a header shared
    by 10^9 pages is an ordinary agg key, not a skew problem) ->
    equi-join back on the hash -> groupBy(doc) positional rebuild
    (collect_list bounded by document size). Two shuffles total, both
    hash-keyed; candidates never pair up, so there is no O(n^2) term
    anywhere.
    """
    seg = df.select(F.col(id_col), F.posexplode(F.col(segs_col)).alias("pos", "seg"))
    segh = seg.withColumn("h", F.md5(F.col("seg")))
    # r6 (guide §2.4): the kept rows ARE the per-hash winners, so the
    # election needs no back-join at all — carry the segment text
    # inside the min-struct ((doc,pos) is unique, so the winner is
    # unchanged; map-side combine still collapses a hot segment to one
    # candidate per mapper). This removes one join+shuffle AND the
    # second evaluation of the segmentation+md5 lane the join side
    # re-ran (the exploded subtree fed two consumers).
    kept = segh.groupBy("h").agg(
        F.min(
            F.struct(
                F.col(id_col).alias("d"), F.col("pos").alias("p"), F.col("seg").alias("s")
            )
        ).alias("f")
    ).select(
        F.col("f.d").alias(id_col), F.col("f.p").alias("pos"), F.col("f.s").alias("seg")
    )
    kept_by_doc = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))), lambda s: s["seg"]
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    base = df.select(F.col(id_col), F.size(F.col(segs_col)).cast("long").alias("n_segs"))
    return base.join(kept_by_doc, id_col, "left").select(
        id_col,
        "n_segs",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        "clean_text",
    )


def dup_span_mask(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = " ",
) -> DataFrame:
    """Exact substring dedup (Lee et al. 2022, arXiv:2107.06499
    "Deduplicating Training Data Makes Language Models Better"): any
    k-token window whose exact content already appeared at a smaller
    (doc, position) marks its span as duplicated; duplicated spans are
    removed from the document (the FIRST occurrence corpus-wide keeps
    its text). Catches copied passages that whole-doc and line-level
    dedup both miss.

    Returns (id, n_tok, n_masked, clean_text).

    Spark-idiomatic substitute for the paper's suffix array: rolling
    k-token window fingerprints at every position (one explode, ~n
    rows per n-token doc), corpus-wide keep-first election per
    fingerprint (min-struct agg — a window repeated across 10^9 pages
    is a map-side-combined agg key), dup positions regrouped per doc
    (collect_set bounded by doc length), and a pure-JVM
    higher-order-function rebuild — token p survives unless some dup
    window start s covers it (s <= p < s+k). Shuffles are keyed by
    fingerprint and doc id only; nothing pairs up, nothing is
    quadratic.
    """
    toks = F.split(F.col(text_col), sep)
    d = df.select(F.col(id_col), toks.alias("_toks"))
    n = F.size(F.col("_toks"))
    wins = d.select(
        F.col(id_col),
        F.posexplode(
            F.when(
                n >= k,
                F.transform(
                    F.sequence(F.lit(0), n - k),
                    lambda i: F.md5(F.array_join(F.slice(F.col("_toks"), i + 1, k), sep)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "h"),
    )
    first = wins.groupBy("h").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias("f")
    )
    dup_starts = (
        wins.join(first, "h")
        .where((F.col(id_col) != F.col("f.d")) | (F.col("pos") != F.col("f.p")))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("pos")).alias("_starts"))
    )
    out = d.join(dup_starts, id_col, "left")
    starts = F.coalesce(F.col("_starts"), F.array().cast("array<int>"))
    kept = F.filter(
        F.transform(F.col("_toks"), lambda t, p: F.struct(t.alias("t"), p.alias("p"))),
        lambda s: ~F.exists(starts, lambda st: (s["p"] >= st) & (s["p"] < st + k)),
    )
    return out.select(
        F.col(id_col),
        n.cast("long").alias("n_tok"),
        (n - F.size(kept)).cast("long").alias("n_masked"),
        F.array_join(F.transform(kept, lambda s: s["t"]), sep).alias("clean_text"),
    )


def _distinct_shingle_postings(
    df: DataFrame, id_col: str, content_col: str, n: int
) -> DataFrame:
    """(_id, s) rows == ``explode(array_distinct(_shingles(content,
    n)))`` computed per Arrow batch: tokens = split on single space
    (trailing empties kept, like Java split with limit -1), shingle =
    n consecutive tokens joined with ' ', docs shorter than n tokens
    yield ONE whole-doc shingle, null text yields ''."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    id_type = df.schema[id_col].dataType.simpleString()
    id_pa = to_arrow_type(df.schema[id_col].dataType)

    def batches(it):
        for batch in it:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_id, out_s = [], []
            for rid, t in zip(ids, texts):
                if t is None:
                    # n>=2: the JVM when/otherwise turns a null token
                    # array into one '' shingle; the n==1 path has no
                    # otherwise-branch, so null explodes to nothing
                    if n == 1:
                        continue
                    sset = [""]
                else:
                    toks = t.split(" ")
                    if len(toks) >= n:
                        sset = list(
                            {
                                " ".join(toks[i : i + n])
                                for i in range(len(toks) - n + 1)
                            }
                        )
                    else:
                        sset = [" ".join(toks)]
                out_id.extend([rid] * len(sset))
                out_s.extend(sset)
            if not out_id:
                continue
            yield pa.record_batch(
                [pa.array(out_id, type=id_pa), pa.array(out_s, type=pa.string())],
                names=["_id", "s"],
            )

    return df.select(
        F.col(id_col).alias("_id"), F.col(content_col).alias("_t")
    ).mapInArrow(batches, f"_id {id_type}, s string")


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    shingle_n: int = 3,
    df_cap: int = 20,
    min_support: int = 2,
    threshold: float = 0.6,
) -> DataFrame:
    """Broder CONTAINMENT detection: pairs where one document's shingle
    set is (nearly) a subset of another's — quotes, prefix/suffix
    copies, page supersets. Jaccard resemblance misses these (a small
    doc inside a big one has low |A∩B|/|A∪B| but containment
    |A∩B|/|A| ≈ 1), so this is the second half of the near-dup story
    next to MinHash (Broder 1997, "On the resemblance and containment
    of documents").

    Returns (id_a, id_b, c_a_in_b, c_b_in_a) with id_a < id_b and
    max(containment) >= threshold, containments rounded to 4 dp.

    Scale shape (100 TB-safe, nothing quadratic in the corpus):
    candidate generation is an inverted index over word shingles with
    DF pruning — a shingle seen in more than ``df_cap`` documents is
    too common to witness containment and is dropped, so a posting
    list is at most ``df_cap`` long and in-list pair fan-out is
    bounded by df_cap^2 JVM-side (no self-join, no skew blow-up from
    boilerplate shingles). Pairs must co-occur in >= ``min_support``
    surviving shingles before the exact verify, which joins full
    shingle sets for candidates only. Shuffles: shingle-keyed agg,
    pair-keyed count, two id-keyed lookup joins.

    Reference analog: FilenameReducer's equivalence-class election
    (/root/reference/load/FilenameReducer.py:73-120) generalized from
    exact filename keys to content-subset classes.
    """
    # r6 (guide §4.2): the index side builds distinct shingle postings
    # in Arrow batches — a Python set per document replaces the
    # interpreted zip_with shingle transform + array_distinct + explode
    # (the two index passes below each paid that lane; measured ~2.5 s
    # per pass at 55k docs). Posting rows are identical to
    # explode(array_distinct(_shingles(...))): split-on-single-space
    # tokens, n-gram join with ' ', whole-doc single shingle for short
    # docs, [''] for null text — pinned by a JVM-vs-Arrow parity test.
    # The exact-verify lane below keeps the JVM _shingles arrays.
    postings = _distinct_shingle_postings(df, id_col, content_col, shingle_n)
    # posting list per shingle, DF-pruned; pairs unfold JVM-side so a
    # hot shingle never becomes a join key. DF pruning is TWO-phase
    # (r6, guide §2.3 "aggregate before you shuffle"): collect_list has
    # no map-side combine, so a one-phase groupBy shuffles EVERY
    # posting row and materializes full lists for boilerplate shingles
    # only to drop them at the df_cap filter — on a 50k-doc corpus with
    # a hot vocabulary that is a 2.9M-row shuffle building thousands-
    # long lists. Counting first partial-aggregates to ~|vocab| rows
    # per mapper, and the list-building shuffle then carries only the
    # postings of surviving (df<=cap) shingles. The second shingle
    # pass this costs is a cheap zip_with map; nothing corpus-sized is
    # persisted or broadcast (AQE picks the join strategy for `keep`).
    keep = (
        postings.groupBy("s")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where((F.col("_df") >= 2) & (F.col("_df") <= df_cap))
        .select("s")
    )
    plists = (
        postings.join(keep, "s", "left_semi")
        .groupBy("s")
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
    )
    # persist the (tiny: surviving pairs only) candidate table so the
    # expensive inverted-index lane above runs ONCE even though cands
    # feeds both the id pre-filter and the verify join (r6; guide §2.4
    # — without this, each consumer re-evaluates the full corpus pass)
    cands = (
        plists.select(pair.alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("co"))
        .where(F.col("co") >= min_support)
        .select("id_a", "id_b")
        .persist()
    )
    # exact verify touches candidate documents ONLY: restrict the
    # corpus to candidate ids BEFORE rebuilding shingle sets, so the
    # two verify passes tokenize a few hundred docs instead of the
    # whole corpus, and nothing corpus-sized is ever broadcast
    # (the previous shape broadcast every document's shingle set)
    cand_ids = (
        cands.select(F.col("id_a").alias("_cid"))
        .union(cands.select(F.col("id_b")))
        .distinct()
    )
    cand_sets = (
        df.join(
            F.broadcast(cand_ids), F.col(id_col) == F.col("_cid"), "left_semi"
        )
        .select(
            F.col(id_col).alias("_id"),
            F.array_distinct(_shingles(content_col, shingle_n)).alias("sset"),
        )
    )
    a = cand_sets.select(F.col("_id").alias("id_a"), F.col("sset").alias("set_a"))
    b = cand_sets.select(F.col("_id").alias("id_b"), F.col("sset").alias("set_b"))
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    out = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / F.size("set_a"), 4).alias("c_a_in_b"),
            F.round(inter / F.size("set_b"), 4).alias("c_b_in_a"),
        )
    )
    return out.where(F.greatest("c_a_in_b", "c_b_in_a") >= threshold)


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-gram of the text,
    slide a window of ``w`` consecutive hashes, and in each window
    select the minimum hash (leftmost on ties). Returns the distinct
    selected set, one row per fingerprint:

        (id, pos, fp)    pos = 1-based k-gram start offset

    Guarantees (the reason winnowing beats "every Nth hash" / mod-p
    sampling): any shared substring of length >= k + w - 1 between two
    documents yields at least one SHARED selected fingerprint, and the
    selected density is ~2/(w+1) — position-robust local sampling that
    random sampling cannot give. This is the localized complement to
    the global MinHash resemblance / Broder containment ops above:
    those answer "how similar", winnowed fingerprints answer "which
    spans match" (plagiarism spans, boilerplate islands, quote
    detection).

    Scale shape (reworked in the r6 optimization round): the whole
    selection — k-gram hashing, sliding-window struct-min, per-doc
    distinct — runs MAP-SIDE inside array expressions, so the
    operator shuffles nothing at all (the previous shape exploded one
    row per character and shuffled them all into a per-doc window,
    then paid a global distinct). Selected sets are identical: the
    leftmost-tie rule is the lexicographic (hash, pos) struct min,
    and fingerprints are per-doc values so array_distinct equals the
    global distinct. Documents shorter than k + w - 1 chars produce
    no fingerprints (no full window exists — the algorithm's own
    definition). ``hash_fn="md5_60"`` switches to the cross-engine
    60-bit md5 lane so external engines reproduce fp values
    bit-for-bit.
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    if hash_fn == "md5_60":
        # r6 optimization (guide §4.2): the md5-60 lane is per-CHARACTER
        # md5 work — measured ~60 µs/k-gram as interpreted higher-order
        # functions (no codegen for HOF lambdas) vs ~1 µs/k-gram as
        # vectorized batches in the Python worker (hashlib's C md5 + a
        # NumPy sliding-window argmin). mapInArrow streams (id, text)
        # batches in and the exploded (id, pos, fp) rows out; selected
        # sets are bit-identical to the JVM lane (pytest parity suite:
        # leftmost-tie = first argmin, distinct-by-pos = struct
        # distinct). The xxhash64 lane stays on the JVM path below —
        # no bit-exact xxhash64 is available Python-side.
        return _winnow_fingerprints_arrow(docs, id_col, text_col, k, w)
    arr = winnow_fingerprint_arrays(docs, id_col, text_col, k, w, hash_fn)
    # explode_outer + null-drop, NOT explode: InferFiltersFromGenerate
    # would wrap a plain explode in `size(fps) > 0`, and predicate
    # pushdown then re-evaluates the whole fingerprint lane a second
    # time below any upstream exchange (measured: the entire per-char
    # hash pass ran inside ONE map task). The outer variant infers no
    # filter; empty-set docs surface as one null row dropped here.
    return (
        arr.select("id", F.explode_outer("fps").alias("_sel"))
        .where(F.col("_sel").isNotNull())
        .select("id", F.col("_sel.pos").alias("pos"), F.col("_sel._h").alias("fp"))
    )


def _winnow_fingerprints_arrow(
    docs: DataFrame, id_col: str, text_col: str, k: int, w: int
) -> DataFrame:
    """Arrow-batched md5-60 winnowing: same selected set as the JVM
    lane of :func:`winnow_fingerprint_arrays`, computed per batch in
    the Python worker. Hash = first 15 hex chars of
    md5(kgram + '|0') base-16 (== ``_h60(gram, 0)``); window min by
    (hash, pos) with leftmost tie = NumPy's first-occurrence argmin;
    per-doc distinct = unique selected gram positions (fp is a
    function of pos within a doc)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    id_type = docs.schema[id_col].dataType.simpleString()
    id_pa = to_arrow_type(docs.schema[id_col].dataType)

    def batches(it):
        import hashlib

        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        md5 = hashlib.md5
        for batch in it:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_id, out_pos, out_fp = [], [], []
            for rid, t in zip(ids, texts):
                if t is None:
                    continue
                n = len(t) - k + 1
                if n - w + 1 < 1:
                    continue
                hs = np.fromiter(
                    (
                        int(md5((t[i : i + k] + "|0").encode("utf-8")).hexdigest()[:15], 16)
                        for i in range(n)
                    ),
                    dtype=np.int64,
                    count=n,
                )
                if w > 1:
                    sel = np.unique(
                        sliding_window_view(hs, w).argmin(axis=1)
                        + np.arange(n - w + 1)
                    )
                else:
                    sel = np.arange(n)
                out_id.extend([rid] * len(sel))
                out_pos.append(sel + 1)
                out_fp.append(hs[sel])
            if not out_id:
                continue  # np.concatenate needs at least one array
            yield pa.record_batch(
                [
                    pa.array(out_id, type=id_pa),
                    pa.array(np.concatenate(out_pos), type=pa.int32()),
                    pa.array(np.concatenate(out_fp), type=pa.int64()),
                ],
                names=["id", "pos", "fp"],
            )

    return docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).mapInArrow(batches, f"id {id_type}, pos int, fp long")


def winnow_fingerprint_arrays(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Map-side core of :func:`winnow_fingerprints`: one row per doc,
    ``fps`` = the distinct selected set as an array of
    ``struct<_h:long, pos:int>`` (empty when no full window exists).
    Per-doc profile queries can aggregate this array directly without
    any shuffle."""

    def h(c):
        return _h60(c, 0) if hash_fn == "md5_60" else F.xxhash64(c)

    t = F.col(text_col)
    # empty-safe: a doc shorter than k has no k-grams (a bare sequence()
    # would descend and emit bogus positions)
    gram_starts = F.when(
        F.length(t) >= k, F.sequence(F.lit(1), F.length(t) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    hs = F.transform(
        gram_starts,
        lambda p: F.struct(
            h(F.substring(t, p, F.lit(k))).alias("_h"), p.alias("pos")
        ),
    )
    # window count derives from text length, NOT size(_hs): every
    # extra reference to _hs re-inlines the whole per-char hash lane
    # under CollapseProject (no CSE for interpreted HOF trees), so the
    # expression below references the array exactly once
    docs2 = docs.select(F.col(id_col).alias("id"), hs.alias("_hs"))
    # NOTE: _hs is deliberately referenced MORE THAN ONCE below (via
    # size() and inside the slice lambda). CollapseProject inlines a
    # non-cheap alias only when it is referenced at most once; with a
    # single reference the whole per-char hash transform gets inlined
    # INTO the per-window lambda and re-evaluates O(len) hashes for
    # every window — measured as an O(len^2) blowup (~150x). The
    # multiple references keep _hs a materialized column.
    nwin = F.size(F.col("_hs")) - (w - 1)
    sel = F.when(
        nwin >= 1,
        F.transform(
            F.sequence(F.lit(1), nwin),
            lambda i: F.array_min(F.slice(F.col("_hs"), i, w)),
        ),
    ).otherwise(F.array().cast("array<struct<_h:long,pos:int>>"))
    return docs2.select("id", F.array_distinct(sel).alias("fps"))


def _content_defined_chunks_arrow(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    mask_bits: int,
    with_text: bool,
) -> DataFrame:
    """Arrow-batched md5-60 content-defined chunking: same rows as the
    JVM explode lane. Boundary rule: a gram ENDING at 1-based position
    i (i in k..L) cuts when ``_h60(gram, 0) % 2**mask_bits == 0``; the
    doc end always closes the last chunk; a null text mirrors the JVM
    lane's single (start=1, null, null) row; an empty text emits
    nothing."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    id_type = docs.schema[id_col].dataType.simpleString()
    id_pa = to_arrow_type(docs.schema[id_col].dataType)
    m = 1 << mask_bits
    fields = "id {}, start int, length int, chunk_hash string".format(id_type)
    if with_text:
        fields += ", chunk string"

    def batches(it):
        import hashlib

        md5 = hashlib.md5
        for batch in it:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_id, out_s, out_l, out_h = [], [], [], []
            out_c: list = []
            for rid, t in zip(ids, texts):
                if t is None:
                    out_id.append(rid)
                    out_s.append(1)
                    out_l.append(None)
                    out_h.append(None)
                    out_c.append(None)
                    continue
                L = len(t)
                if L < 1:
                    continue
                enc = t.encode("utf-8")
                ascii_only = len(enc) == L
                cuts = []
                if L >= k:
                    if ascii_only:
                        grams = (enc[i : i + k] for i in range(L - k + 1))
                        cuts = [
                            i + k
                            for i, g in enumerate(grams)
                            if int(md5(g + b"|0").hexdigest()[:15], 16) % m == 0
                        ]
                    else:
                        cuts = [
                            i + k
                            for i in range(L - k + 1)
                            if int(
                                md5((t[i : i + k] + "|0").encode("utf-8")).hexdigest()[
                                    :15
                                ],
                                16,
                            )
                            % m
                            == 0
                        ]
                ends = cuts if (cuts and cuts[-1] == L) else cuts + [L]
                prev = 0
                for e in ends:
                    chunk = t[prev:e]
                    out_id.append(rid)
                    out_s.append(prev + 1)
                    out_l.append(e - prev)
                    out_h.append(md5(chunk.encode("utf-8")).hexdigest())
                    if with_text:
                        out_c.append(chunk)
                    prev = e
            if not out_id:
                continue
            cols = [
                pa.array(out_id, type=id_pa),
                pa.array(out_s, type=pa.int32()),
                pa.array(out_l, type=pa.int32()),
                pa.array(out_h, type=pa.string()),
            ]
            names = ["id", "start", "length", "chunk_hash"]
            if with_text:
                cols.append(pa.array(out_c, type=pa.string()))
                names.append("chunk")
            yield pa.record_batch(cols, names=names)

    return docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).mapInArrow(batches, fields)


def content_defined_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    mask_bits: int = 5,
    hash_fn: str = "xxhash64",
    with_text: bool = False,
) -> DataFrame:
    """Content-defined chunking (Manber '94 / LBFS): split each
    document at positions where the rolling k-gram hash satisfies
    ``h % 2**mask_bits == 0`` — expected chunk length 2**mask_bits.
    Returns one row per chunk:

        (id, start, length, chunk_hash [, chunk])   start 1-based

    Why content-defined instead of fixed-width: an insertion near the
    head of a document shifts every fixed-width block boundary after
    it, so block-level dedup finds nothing; content-defined boundaries
    re-synchronize within ~one chunk of the edit, so every untouched
    chunk dedups again. This is the storage-dedup primitive (rsync,
    LBFS, backup systems) applied to the corpus plane — the
    between-granularity complement to line-level and whole-doc dedup:
    shared boilerplate/quoted spans dedup as chunks without any
    alignment step.

    Scale shape (reworked in the r6 optimization round): the rolling
    boundary hash — one md5/xxhash per CHARACTER of corpus, by far the
    dominant cost — is evaluated exactly ONCE, in a codegen'd explode
    that shuffles only the surviving (id, pos) cut rows, never the
    text. Cut positions are folded to a per-doc sorted array (one
    ~corpus/2^bits-row aggregate), re-attached to the body by one
    equi-join, and spans + chunk hashes are derived map-side from the
    array. The previous shape (window over cuts + separate tail
    groupBy + union + join) evaluated the full boundary-hash lane
    twice per consumer because ``cuts`` fed two subtrees.
    ``hash_fn="md5_60"`` = cross-engine boundary decisions.
    Documents shorter than ``k`` become a single whole-doc chunk.
    The plain rule has no min/max clamp (FastCDC adds one); expected
    length is exact for random text, so a 100 TB run sizes its chunk
    index as corpus_bytes >> mask_bits rows.
    """
    if hash_fn == "md5_60":
        # r6 optimization (guide §4.2, same pattern as the winnowing
        # md5-60 lane): one md5 per character of corpus through
        # hashlib's C implementation in Arrow batches instead of a
        # codegen'd explode — measured ~2x on the declared query, and
        # the (id,pos) cut shuffle + per-doc fold + body re-join
        # disappear entirely (cuts fold in-process per doc). Output
        # rows are bit-identical (JVM-vs-Arrow parity test, incl.
        # null/empty/short/constant docs). The xxhash64 lane keeps the
        # JVM explode below.
        return _content_defined_chunks_arrow(
            docs, id_col, text_col, k, mask_bits, with_text
        )
    return _content_defined_chunks_jvm(
        docs, id_col, text_col, k, mask_bits, hash_fn, with_text
    )


def _content_defined_chunks_jvm(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    mask_bits: int,
    hash_fn: str,
    with_text: bool,
) -> DataFrame:
    """JVM explode lane of :func:`content_defined_chunks` (also the
    parity reference for the Arrow md5-60 fast path)."""
    m = 1 << mask_bits
    t = F.col(text_col)
    # boundary candidates: gram ENDING at position i (i = k .. L)
    ends = F.when(
        F.length(t) >= k, F.sequence(F.lit(k), F.length(t))
    ).otherwise(F.array().cast("array<int>"))
    grams = docs.select(
        F.col(id_col).alias("id"),
        t.alias("_t"),
        F.explode(ends).alias("pos"),
    ).select(
        "id", "pos",
        F.substring(F.col("_t"), F.col("pos") - (k - 1), k).alias("_gram"),
    )
    h = (
        _h60(F.col("_gram"), 0)
        if hash_fn == "md5_60"
        else F.pmod(F.xxhash64(F.col("_gram")), F.lit(2**61 - 1))
    )
    # shuffle ONLY (id, pos) cut rows (~corpus/2^bits of them), never
    # the text or the non-cut grams; the expensive hash lane above is
    # evaluated exactly once
    cuts = grams.where((h % m) == 0).select("id", "pos")
    percut = cuts.groupBy("id").agg(F.array_sort(F.collect_list("pos")).alias("_cuts"))
    empty = F.array().cast("array<int>")
    body = docs.select(
        F.col(id_col).alias("id"), t.alias("_t"), F.length(t).alias("_len")
    )
    # chunk END positions per doc: the cuts, plus the doc end when the
    # last cut is not already there; empty docs produce no chunks
    joined = body.join(percut, "id", "left").select(
        "id",
        "_t",
        F.when(F.col("_len") < 1, empty)
        .when(
            F.coalesce(F.element_at("_cuts", -1), F.lit(0)) == F.col("_len"),
            F.col("_cuts"),
        )
        .otherwise(F.concat(F.coalesce(F.col("_cuts"), empty), F.array(F.col("_len"))))
        .alias("_ends"),
    )
    exploded = joined.select(
        "id", "_t", "_ends", F.posexplode("_ends").alias("_i", "_end")
    )
    start = (
        F.when(F.col("_i") == 0, F.lit(0)).otherwise(F.element_at("_ends", F.col("_i")))
        + 1
    )
    chunk = F.substring(F.col("_t"), F.col("_start"), F.col("_end") - F.col("_start") + 1)
    out = exploded.select(
        "id", start.alias("_start"), "_t", "_end"
    ).select(
        "id",
        F.col("_start").alias("start"),
        (F.col("_end") - F.col("_start") + 1).cast("int").alias("length"),
        F.md5(chunk).alias("chunk_hash"),
        *([chunk.alias("chunk")] if with_text else []),
    )
    return out
