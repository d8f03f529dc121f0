"""Deduplication operators — the training-data-pipeline core.

Exact (hash-groupBy), n-gram Jaccard near-dup, MinHash+LSH (shingle →
signature → band → bucket-join), and SimHash — each as pure Catalyst
expressions with a DuckDB oracle twin.

Scale design (100 TB corpora):
- Exact dedup is one shuffle on the content hash (map-side combine).
- N-gram Jaccard is quadratic and exists as the *verifier*; the scale
  path is MinHash/LSH, where the only big shuffle keys on (band, bucket)
  and candidate verification touches candidate pairs only.
- All hashing is md5-derived integer arithmetic: deterministic across
  engines (Spark xxhash64 and DuckDB hash() do NOT agree), overflow-safe
  (31-bit hash × 6-bit multiplier stays far below 2^63).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xova_spark.session import load_tables
from xova_spark.sharedframes import pin, shared

REGISTRY: dict[str, tuple] = {}


def q(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


# --- shared deterministic hashing / shingling -------------------------------

P31 = 2147483647  # 2^31 - 1 (Mersenne prime) — minhash universe
MINHASH_A = (3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59)
MINHASH_B = tuple((i * 1000003) % P31 for i in range(1, 17))
N_BANDS, ROWS_PER_BAND = 4, 4
SIMHASH_BITS = 32

# Spark-side 3-word shingle set (distinct), SQL-expression form.
# Built with slice + zip_with (NOT element_at inside transform) so split()
# evaluates O(1) times per row instead of O(words) times per shingle —
# the per-element form was 8x slower on a 5k-doc corpus.
SPARK_SHINGLES = (
    "array_distinct(zip_with("
    " zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 2),"
    "          slice(split(text, ' '), 2, size(split(text, ' ')) - 2),"
    "          (x, y) -> concat(x, '_', y)),"
    " slice(split(text, ' '), 3, size(split(text, ' ')) - 2),"
    " (x, y) -> concat(x, '_', y)))"
)

# DuckDB twin (1-based list indexing).
DUCK_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),"
    " i -> string_split(text, ' ')[i] || '_' ||"
    " string_split(text, ' ')[i+1] || '_' || string_split(text, ' ')[i+2]))"
)

# 31-bit deterministic shingle hash from md5 (same value in both engines).
SPARK_H31 = f"cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint) % {P31}"
DUCK_H31 = f"(('0x' || substr(md5(s), 1, 15))::BIGINT) % {P31}"


@q(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash,
           count(*) AS n_copies,
           min(doc_id) AS keep_doc_id
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy, keep lowest doc_id per content hash.
    One shuffle on the hash; partial aggregation map-side."""
    (docs,) = _docs(spark, sf_dir)
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.count("*").alias("n_copies"),
        F.min("doc_id").alias("keep_doc_id"),
    )


@q(
    "dedup_ngram_jaccard",
    f"""
    WITH sh AS (
      SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), sizes AS (
      SELECT doc_id, len(shingles) AS n FROM sh
    ), common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """3-word-shingle Jaccard near-dup pairs (threshold 0.5). Quadratic in
    colliding shingles — the exact verifier; LSH below is the scale path.

    Spark-side form: the inverted-index self-join runs on the COMPACT
    60-bit shingle hashes (the _shingle_hash_arrays frame the LSH path
    already shares — 8-byte join keys instead of ~50-char strings), it
    produces DISTINCT candidate pairs only, and the per-pair common
    count is the per-row array_intersect on the hash arrays — NOT the
    pair x shingle groupBy (the exact rewrite that fixed the 10x bench
    artifact's 18.4x scaler in _lsh_pair_stats). Equal to the oracle's
    string-set count unless two different shingles in one compared pair
    share a 60-bit md5 prefix (~2e-15 per pair — the frame's documented
    exactness contract). Jaccard >= 0.5 pairs share >= 1 shingle, so
    candidate recall is complete. SHARED per (session, sf_dir): the
    recall gate consumes this frame twice on top of the entry itself."""

    def build():
        arr = _shingle_hash_arrays(spark, sf_dir)
        ex = arr.select("doc_id", F.explode("hs").alias("h"))
        a, b = ex.alias("a"), ex.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.h") == F.col("b.h"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        aa = arr.select(
            F.col("doc_id").alias("doc_a"),
            F.col("hs").alias("ha"),
            F.col("nsh").alias("na"),
        )
        ab = arr.select(
            F.col("doc_id").alias("doc_b"),
            F.col("hs").alias("hb"),
            F.col("nsh").alias("nb"),
        )
        c = F.size(F.array_intersect("ha", "hb"))
        jac = c * 1.0 / (F.col("na") + F.col("nb") - c)
        return (
            cand.join(aa, "doc_a")
            .join(ab, "doc_b")
            .filter(jac >= 0.5)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        )

    return shared(spark, ("dedup_ngram_jac", sf_dir), build)


def _minhash_sql_exprs(hcol: str) -> list[str]:
    return [
        f"min(({a} * {hcol} + {b}) % {P31})"
        for a, b in zip(MINHASH_A, MINHASH_B)
    ]


_MINHASH_CTES = f"""
    sh AS (
      SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), hashed AS (
      SELECT doc_id, {DUCK_H31} AS h FROM ex
    ), sig AS (
      SELECT doc_id,
             {', '.join(f'{e} AS m{i}' for i, e in enumerate(_minhash_sql_exprs('h')))},
             count(*) AS nsh
      FROM hashed GROUP BY doc_id
    ), bands AS (
      {' UNION ALL '.join(
        f"SELECT doc_id, {k} AS band, "
        f"concat_ws(',', m{4 * k}, m{4 * k + 1}, m{4 * k + 2}, m{4 * k + 3}) AS bkey "
        f"FROM sig"
        for k in range(N_BANDS)
      )}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ), common AS (
      SELECT c.doc_a, c.doc_b, count(*) AS nc
      FROM cand c
      JOIN ex ea ON ea.doc_id = c.doc_a
      JOIN ex eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
      GROUP BY 1, 2
    )
    """

_MINHASH_LSH_SQL = f"""
    WITH {_MINHASH_CTES}
    SELECT cm.doc_a, cm.doc_b,
           round(nc * 1.0 / (sa.nsh + sb.nsh - nc), 6) AS jaccard
    FROM common cm
    JOIN sig sa ON sa.doc_id = cm.doc_a
    JOIN sig sb ON sb.doc_id = cm.doc_b
    WHERE nc * 1.0 / (sa.nsh + sb.nsh - nc) >= 0.5
    """

def _shingle_hash_arrays(spark, sf_dir):
    """Per-doc arrays of 60-bit md5-prefix shingle hashes
    (doc_id, hs, nsh) — ONE shared frame feeds the whole LSH family:
    the minhash signatures derive from it (h31 = h60 % P31, identical
    to hashing the string directly), and candidate VERIFICATION
    intersects the compact long arrays per-row instead of the
    pair x shingle explode-join-groupBy (the 10x bench artifact's one
    >15x scaler: 18.4x for 10x data; arrays restored ~linear, and the
    8-byte hash payload ships ~2x faster than the string arrays).

    Exactness: nc = |array_intersect(hs_a, hs_b)| equals the string-set
    intersection the oracle computes unless two DIFFERENT shingles share
    a 60-bit md5 prefix within one compared pair — probability
    ~(52*52)/2^60 ≈ 2e-15 per pair, i.e. never at any feasible scale
    (the 31-bit minhash universe tolerates collisions by design and is
    unaffected)."""

    def build():
        (docs,) = _docs(spark, sf_dir)
        sh = docs.filter(F.size(F.split("text", " ")) >= 3).select(
            "doc_id", F.expr(SPARK_SHINGLES).alias("shingles")
        )
        return sh.select(
            "doc_id",
            F.expr(
                "transform(shingles, s ->"
                " cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint))"
            ).alias("hs"),
            F.size("shingles").alias("nsh"),
        )

    return shared(spark, ("dedup_shingle_h60", sf_dir), build)


def _minhash_sig(spark, sf_dir):
    """16-hash MinHash signature table (doc_id, m0..m15, nsh), shared per
    session per sf_dir — band-spec independent, so both the 4x4 and 16x1
    consumers reuse one materialization."""

    def build():
        # Map-only form (guide §2.4): the per-doc min over permuted
        # shingle hashes is an array_min(transform(...)) on the shared
        # compact hash ARRAYS — the former explode + groupBy(doc_id)
        # shuffled docs x shingles rows just to take 16 mins that are
        # computable per row. Bit-identical: same (a*h + b) % P31
        # permutations over the same h = h60 % P31 values (a, b, h all
        # < P31 so a*h + b < 2^62 — no BIGINT overflow), and
        # nsh == size(hs) == the exploded count. The oracle keeps its
        # exploded GROUP BY form — values match exactly.
        return _shingle_hash_arrays(spark, sf_dir).select(
            "doc_id",
            *[
                F.expr(
                    f"array_min(transform(hs,"
                    f" x -> ({a} * (x % {P31}) + {b}) % {P31}))"
                ).alias(f"m{i}")
                for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
            ],
            F.col("nsh").cast("long").alias("nsh"),
        )

    return shared(spark, ("dedup_minhash_sig", sf_dir), build)


def _lsh_pair_stats(
    spark, sf_dir, band_specs: list[tuple[int, ...]], with_zero: bool = False
):
    """Shared MinHash+LSH candidate generation with exact shingle-set
    statistics — the scale path for every near-dup consumer.

    ``band_specs`` is a list of tuples of minhash indices; docs whose
    signatures agree on ALL indices of any one band become a candidate
    pair. The only big shuffle keys on (band, bucket); verification
    touches candidate pairs only. Returns candidate stats
    (doc_a, doc_b, nc, nsha, nshb) — nc = |A∩B|, nsh* = |A|,|B|.
    The STORED shared frame is unfiltered (zero-overlap candidates
    included) so the band-tuning report, which counts raw candidate
    volume, reads the same materialization; every other consumer gets
    the historical nc >= 1 view via a lazy map-only filter
    (``with_zero=False``, the default) — identical rows to the old
    per-consumer chains.

    SHARED per (session, sf_dir, banding): five 4x4 consumers and two
    16x1 consumers each re-ran the band self-join + array-intersect
    verify from scratch (the er_*/graph sharing lesson, VERDICT r9
    item 5); the persisted frame is candidate-pair grain — bounded by
    the banding design, never the corpus."""
    stats = shared(
        spark,
        ("dedup_pair_stats", sf_dir, tuple(band_specs)),
        lambda: _build_lsh_pair_stats(spark, sf_dir, band_specs),
    )
    return stats if with_zero else stats.filter(F.col("nc") >= 1)


def _build_lsh_pair_stats(spark, sf_dir, band_specs: list[tuple[int, ...]]):
    sig = _minhash_sig(spark, sf_dir)
    # One (band, bkey) row per signature per band via a single explode —
    # NOT a 16-way union of per-band selects: the union form scans the
    # signature table once per band (16 scans per join side at 16x1
    # banding); the explode is one pass regardless of band count, which
    # is also the right shape at 100 TB.
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.concat_ws(",", *[f"m{i}" for i in idxs]).alias("bkey"),
                    )
                    for k, idxs in enumerate(band_specs)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bkey")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Verification: join each candidate pair to the compact per-doc
    # shingle ARRAYS and intersect per-row (set semantics — the arrays
    # are distinct), NOT the pair x shingle explode-join-groupBy. The
    # exploded form shuffles |candidates| x |shingles| rows (~90M at
    # sf1) and its per-pair count groupBy was the 10x bench artifact's
    # one >15x scaler (18.4x for 10x data; this form restored ~linear).
    # Work per pair is bounded by the two docs' shingle counts, and the
    # only shuffles are two doc-id equi-joins of the pair table.
    arr = _shingle_hash_arrays(spark, sf_dir)
    aa = arr.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("ha"),
        F.col("nsh").alias("nsha"),
    )
    ab = arr.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hb"),
        F.col("nsh").alias("nshb"),
    )
    return (
        cand.join(aa, "doc_a")
        .join(ab, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ha", "hb")).alias("nc"),
            "nsha",
            "nshb",
        )
    )


def _lsh_verified_pairs(spark, sf_dir, band_specs, threshold=0.5):
    """Jaccard-verified near-dup pairs over the LSH candidates (the
    original consumer surface: (doc_a, doc_b, jaccard >= threshold))."""
    stats = _lsh_pair_stats(spark, sf_dir, band_specs)
    jac = F.col("nc") * 1.0 / (F.col("nsha") + F.col("nshb") - F.col("nc"))
    return stats.filter(jac >= threshold).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


# The classic 4 bands x 4 rows banding over the 16-hash signature.
BANDS_4x4 = [tuple(range(4 * k, 4 * k + 4)) for k in range(N_BANDS)]
# High-recall banding for clustering: 16 bands x 1 row — docs sharing ANY
# single minhash become candidates (miss probability (1-s)^16; ~1.5e-5 at
# the 0.5 threshold, vanishing above it), still bucket-bounded, never
# quadratic in the corpus.
BANDS_16x1 = [(i,) for i in range(len(MINHASH_A))]


@q("dedup_minhash_lsh", _MINHASH_LSH_SQL)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash (16 hashes) + LSH (4 bands × 4 rows) near-dup detection with
    exact-Jaccard verification of candidates.

    Scale shape: signatures are one groupBy over exploded shingles; the
    candidate join keys on (band, bucket) — tiny buckets, no quadratic
    blow-up; verification touches candidate pairs only."""
    (docs,) = _docs(spark, sf_dir)
    return _lsh_verified_pairs(spark, sf_dir, BANDS_4x4)


def _simhash_exprs(dialect: str) -> str:
    """SUM over words of cnt·sign(bit_i(h)) per bit, packed to an int."""
    terms = []
    for i in range(SIMHASH_BITS):
        bit = (
            f"(shiftright(h, {i}) & 1)" if dialect == "spark" else f"((h >> {i}) & 1)"
        )
        terms.append(
            f"(CASE WHEN sum(cnt * (2 * {bit} - 1)) > 0 THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


def simhash_fingerprints(docs):
    """(doc_id, simhash) via the measured-fastest Spark form: ONE
    groupBy over word occurrences whose aggregate state is 32 plain
    bit-sums + a count (no CASE, no cnt multiply inside the agg);
    the majority threshold per bit moves to the post-agg projection
    (sum(2b-1) > 0  <=>  2*sum(b) > n). A/B at sf0.1 vs the
    per-occurrence CASE-sum form and the (doc_id, word) pre-aggregated
    form: 1.28 s vs 1.95 s vs 1.34 s on the bench's warmed run
    (identical pair sets) — the simpler aggregate expressions win, and
    the plan stays one shuffle keyed on doc_id."""
    hashed = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).select(
        "doc_id",
        F.expr(
            f"cast(conv(substring(md5(word), 1, 15), 16, 10) as bigint) % {P31}"
        ).alias("h"),
    )
    sums = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy("doc_id").agg(F.count("*").alias("n"), *sums)
    fpexpr = " + ".join(
        f"(CASE WHEN 2 * b{i} > n THEN {1 << i} ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return agg.select("doc_id", F.expr(fpexpr).alias("simhash"))


@q(
    "dedup_simhash",
    f"""
    WITH wc AS (
      SELECT doc_id, word, count(*) AS cnt FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
      ) GROUP BY doc_id, word
    ), hashed AS (
      SELECT doc_id, cnt,
             (('0x' || substr(md5(word), 1, 15))::BIGINT) % {P31} AS h
      FROM wc
    ), fp AS (
      SELECT doc_id, {_simhash_exprs('duck')} AS simhash
      FROM hashed GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash
    FROM fp a JOIN fp b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup: 32-bit weighted-bit-vote fingerprint per doc, then
    pairs with identical fingerprints (near-dups collide; unrelated docs
    don't). One shuffle to build fingerprints, one tiny self-join.

    The Spark path is ``simhash_fingerprints`` — plain per-occurrence
    bit-sums with the majority vote applied after the aggregate; integer
    result identical to the oracle's distinct-word-weighted-by-count
    formulation (sum of signs over occurrences == count-weighted sum
    over distinct words)."""
    (docs,) = _docs(spark, sf_dir)
    fp = simhash_fingerprints(docs)
    a, b = fp.alias("a"), fp.alias("b")
    return a.join(
        b,
        (F.col("a.simhash") == F.col("b.simhash")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.simhash").alias("simhash"),
    )


# Shared near-dup edge set: verified n-gram-Jaccard pairs (>= 0.5).
_DUCK_EDGE_CTES = f"""
    sh AS (
      SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), sizes AS (
      SELECT doc_id, len(shingles) AS n FROM sh
    ), common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT doc_a, doc_b
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
    )
"""


# Driver-side union-find gate: 100M pairs of two longs ≈ 1.6 GB — stay
# well under that. Above the gate the distributed label-propagation runs.
_CC_COLLECT_EDGES = 5_000_000


def _union_find_min_label(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Exact min-label connected components over an edge list (path
    compression + union by attaching larger root to smaller): every node
    maps to the MINIMUM doc_id of its component — the same labeling the
    distributed propagation and the DuckDB recursive CTE converge to."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the smaller id as the root → root IS the min label
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {x: find(x) for x in parent}


@q(
    "dedup_cc_clusters",
    f"""
    WITH RECURSIVE {_DUCK_EDGE_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), reach AS (
      SELECT DISTINCT src AS doc_id, src AS comp FROM edges
      UNION
      SELECT e.dst AS doc_id, r.comp
      FROM reach r JOIN edges e ON e.src = r.doc_id
    )
    SELECT doc_id, min(comp) AS component
    FROM reach GROUP BY doc_id
    """,
)
def dedup_cc_clusters(spark, sf_dir):
    """Near-dup CLUSTER ASSIGNMENT: connected components over the verified
    Jaccard>=0.5 edge graph, by iterative min-label propagation (the
    Pregel/GraphFrames pattern). Each iteration is ONE shuffle join
    (edges x current labels) plus a groupBy-min; iterations are bounded
    by the cluster graph's diameter (near-dup clusters are shallow —
    single digits in practice). Labels only decrease, so the sum of
    labels is a monotone convergence witness; the loop is deterministic,
    hence oracle-EXACT against DuckDB's recursive CTE.

    Scale notes (100 TB): edge generation composes with the LSH path
    (_lsh_verified_pairs) under the high-recall 16x1 banding — candidate
    pairs share at least one minhash, then verify exactly — so the only
    big shuffles key on shingle hashes and (band, bucket), never the
    quadratic all-pairs join (that form survives only in the DuckDB
    oracle, which IS the exhaustive referee).

    SIZE-GATED execution: the verified-edge set is the near-dup pairs
    only — typically orders of magnitude smaller than the corpus. When
    it fits comfortably on the driver (<= ``_CC_COLLECT_EDGES`` pairs,
    ~100 MB), a driver-side union-find computes exact min-label
    components in one pass — no per-iteration Spark jobs. Above the
    gate, the iterative min-label propagation runs distributed: each
    iteration is ONE shuffle join (edges x current labels) plus a
    groupBy-min, iterations bounded by the cluster graph's diameter;
    the frontier is cached per round and unpersisted after, so state is
    O(|V|); for adversarially deep chains, switch to
    large-star/small-star contraction (same join primitive, O(log n)
    rounds). Both paths are deterministic and oracle-EXACT; tests pin
    them against each other."""
    (docs,) = _docs(spark, sf_dir)

    # Shared per (session, sf_dir): the cluster assignment is consumed
    # by dedup_keep_best and dedup_cluster_size_profile too — each used
    # to redo verified-pair generation + the union-find collect (the
    # er_asg sharing pattern, VERDICT r9 item 5).
    def build():
        pairs = _lsh_verified_pairs(spark, sf_dir, BANDS_16x1).select(
            "doc_a", "doc_b"
        )
        return cc_components(spark, pairs, id_col="doc_id")

    return shared(spark, ("dedup_cc_asg", sf_dir), build)


def cc_components(spark, pairs, id_col="doc_id"):
    """Generic min-label connected components over an undirected edge
    list (columns doc_a, doc_b) — the shared engine behind the near-dup
    clusters and the graph pack. Size-gated: driver union-find under
    ``_CC_COLLECT_EDGES`` edges, iterative min-label propagation above
    (one shuffle join + groupBy-min per round, cached frontier,
    monotone label-sum convergence witness)."""
    pairs = pairs.cache()
    n_edges = pairs.count()  # also materializes the cache for either path
    if n_edges <= _CC_COLLECT_EDGES:
        rows = pairs.collect()
        pairs.unpersist()
        comp = _union_find_min_label([(r.doc_a, r.doc_b) for r in rows])
        return spark.createDataFrame(
            sorted(comp.items()), f"{id_col} long, component long"
        )
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias(id_col)).distinct()
        .withColumn("component", F.col(id_col))
        .cache()
    )
    prev_sum = labels.agg(F.sum("component")).collect()[0][0]
    for _ in range(50):
        prop = edges.join(
            labels.withColumnRenamed(id_col, "src"), "src"
        ).select(F.col("dst").alias(id_col), "component")
        new_labels = (
            labels.union(prop)
            .groupBy(id_col)
            .agg(F.min("component").alias("component"))
            .cache()
        )
        cur_sum = new_labels.agg(F.sum("component")).collect()[0][0]
        labels.unpersist()
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    pairs.unpersist()
    # labels stays persisted (downstream consumers read it); pin it so
    # clear_shared() releases it at gate exit rather than leaking one
    # cached label table per distributed-path CC call.
    return pin(labels)


def _docs(spark, sf_dir):
    tables = load_tables(spark, sf_dir, ("documents",))
    return [tables["documents"]]


_KEEP_BEST_CTES = f"""
    {_DUCK_EDGE_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), reach AS (
      SELECT DISTINCT src AS doc_id, src AS comp FROM edges
      UNION
      SELECT e.dst AS doc_id, r.comp
      FROM reach r JOIN edges e ON e.src = r.doc_id
    ), comps AS (
      SELECT doc_id, min(comp) AS component FROM reach GROUP BY doc_id
    ), scored AS (
      SELECT d.doc_id,
             coalesce(c.component, d.doc_id) AS component,
             len(list_distinct(string_split(d.text, ' '))) AS n_distinct_tokens
      FROM documents d LEFT JOIN comps c USING (doc_id)
    ), ranked AS (
      SELECT doc_id, component, n_distinct_tokens,
             row_number() OVER (
               PARTITION BY component
               ORDER BY n_distinct_tokens DESC, doc_id) AS rn
      FROM scored
    ), canon AS (
      SELECT component, doc_id AS canonical_id FROM ranked WHERE rn = 1
    )
"""


@q(
    "dedup_keep_best",
    f"""
    WITH RECURSIVE {_KEEP_BEST_CTES}
    SELECT s.doc_id, s.component, c.canonical_id, s.n_distinct_tokens,
           CASE WHEN s.doc_id = c.canonical_id THEN 1 ELSE 0 END AS kept
    FROM scored s JOIN canon c USING (component)
    """,
)
def dedup_keep_best(spark, sf_dir):
    """CANONICAL SELECTION — the step after clustering that an actual
    training-data pipeline runs: every document maps to ONE canonical
    representative of its near-dup cluster, chosen by an integer-exact
    quality key (distinct-token count, ties to the lowest doc_id);
    singletons are their own canonical. The output is the doc_id ->
    canonical_id rewrite table a dedup pass applies to the corpus
    (``kept`` marks survivors).

    Scale shape: cluster assignment reuses dedup_cc_clusters (LSH-
    composed edges, size-gated union-find / distributed min-label); the
    cluster table is near-dup rows ONLY, so the left join back to the
    corpus broadcasts in practice and the canonical pick is one window
    per component (shuffle keyed on component — bounded by cluster
    sizes, no skew since near-dup clusters are shallow). Quality is an
    integer, so the pick is deterministic with no float-ordering
    hazards in either engine."""
    from pyspark.sql import Window

    (docs,) = _docs(spark, sf_dir)
    comps = dedup_cc_clusters(spark, sf_dir)
    scored = (
        docs.join(comps, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
            F.size(F.array_distinct(F.split("text", " "))).alias(
                "n_distinct_tokens"
            ),
        )
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n_distinct_tokens"), "doc_id"
    )
    canon = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("component", F.col("doc_id").alias("canonical_id"))
    )
    return scored.join(canon, "component").select(
        "doc_id",
        "component",
        "canonical_id",
        "n_distinct_tokens",
        F.when(F.col("doc_id") == F.col("canonical_id"), 1)
        .otherwise(0)
        .alias("kept"),
    )


@q(
    "pipeline_dedup_audit",
    f"""
    WITH RECURSIVE {_KEEP_BEST_CTES},
    kb AS (
      SELECT s.doc_id,
             CASE WHEN s.doc_id = c.canonical_id THEN 1 ELSE 0 END AS kept
      FROM scored s JOIN canon c USING (component)
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(kb.kept) AS BIGINT) AS n_kept,
           CAST(count(*) - sum(kb.kept) AS BIGINT) AS n_removed,
           CAST(sum(CASE WHEN kb.kept = 0
                         THEN len(string_split(d.text, ' ')) ELSE 0 END)
                AS BIGINT) AS tokens_removed,
           CAST(sum(kb.kept) * 10000 // count(*) AS BIGINT) AS keep_rate_bp
    FROM documents d JOIN kb USING (doc_id)
    GROUP BY d.source
    """,
)
def pipeline_dedup_audit(spark, sf_dir):
    """DEDUP PIPELINE AUDIT — the end-to-end composite a curation run
    reports per provenance source: LSH candidates → exact-Jaccard
    verify → connected components → keep-best canonical selection
    (all of dedup_keep_best), then the per-source keep/remove counts,
    tokens removed, and integer-basis-point keep rate. This is the
    table a data lead reads to see WHICH source the dedup pass is
    eating — the operational closing step of the dedup family.

    Plan: keep_best's chain (LSH shuffles + component labels + one
    window per cluster) feeds one final groupBy(source) partial-agg
    shuffle; the keep rate is integer bp (//) so nothing float enters
    the hash."""
    kb = dedup_keep_best(spark, sf_dir).select("doc_id", "kept")
    (docs,) = _docs(spark, sf_dir)
    return (
        docs.join(kb, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("kept").cast("long").alias("n_kept"),
            (F.count("*") - F.sum("kept")).cast("long").alias("n_removed"),
            F.sum(
                F.when(
                    F.col("kept") == 0, F.size(F.split("text", " "))
                ).otherwise(0)
            ).cast("long").alias("tokens_removed"),
            F.expr("sum(kept) * 10000 div count(*)")
            .cast("long")
            .alias("keep_rate_bp"),
        )
    )


_PAIR_SCORES_SQL = f"""
    WITH {_MINHASH_CTES},
    stats AS (
      SELECT cm.doc_a, cm.doc_b, cm.nc, sa.nsh AS nsha, sb.nsh AS nshb
      FROM common cm
      JOIN sig sa ON sa.doc_id = cm.doc_a
      JOIN sig sb ON sb.doc_id = cm.doc_b
      WHERE nc * 1.0 / (sa.nsh + sb.nsh - nc) >= 0.5
    )
    SELECT s.doc_a, s.doc_b,
           round(nc * 1.0 / (nsha + nshb - nc), 6) AS jaccard,
           CAST(levenshtein(substr(da.text, 1, 120), substr(db.text, 1, 120))
                * 1000
                // greatest(len(substr(da.text, 1, 120)),
                            len(substr(db.text, 1, 120))) AS BIGINT)
             AS lev_permille,
           CAST(nc * 1000 // least(nsha, nshb) AS BIGINT)
             AS containment_permille
    FROM stats s
    JOIN documents da ON da.doc_id = s.doc_a
    JOIN documents db ON db.doc_id = s.doc_b
    """


@q("dedup_pair_scores", _PAIR_SCORES_SQL)
def dedup_pair_scores(spark, sf_dir):
    """Multi-signal verification of the LSH near-dup candidates: for
    every Jaccard-verified pair, also compute (a) the Levenshtein
    edit-distance ratio on bounded 120-char prefixes (edit distance is
    O(len^2) per pair — the prefix bound keeps per-pair cost constant
    at any corpus scale; candidates are already LSH-bounded) and (b)
    the shingle-set CONTAINMENT |A∩B|/min(|A|,|B|) — the asymmetry
    detector: near-1 containment with mid Jaccard means one doc
    embeds the other.

    Exactness: both new scores are integer permille via integer
    division (lev and set counts are exact integers in both engines);
    only the already-established round(jaccard, 6) is float.

    Plan: _lsh_pair_stats's banded shuffle produces the pair stats;
    the two documents-table joins re-attach text by doc id (at scale:
    shuffle-hash equi-joins on the dimension id, candidate-bounded)."""
    (docs,) = _docs(spark, sf_dir)
    stats = _lsh_pair_stats(spark, sf_dir, BANDS_4x4)
    jac = F.col("nc") * 1.0 / (F.col("nsha") + F.col("nshb") - F.col("nc"))
    pairs = stats.filter(jac >= 0.5)
    da = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.substring("text", 1, 120).alias("text_a"),
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.substring("text", 1, 120).alias("text_b"),
    )
    lev = F.levenshtein("text_a", "text_b")
    maxlen = F.greatest(F.length("text_a"), F.length("text_b"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(jac, 6).alias("jaccard"),
            F.expr("(levenshtein(text_a, text_b) * 1000) div "
                   "greatest(length(text_a), length(text_b))")
            .cast("long").alias("lev_permille"),
            F.expr("(nc * 1000) div least(nsha, nshb)")
            .cast("long").alias("containment_permille"),
        )
    )


def _band_stats_sql() -> str:
    """Both band configs' candidate/precision stats in ONE statement:
    the shared shingle/signature chain, then per-config band → cand →
    verified-count CTEs (4x4 classic vs 16x1 high-recall)."""
    def bands_cte(tag: str, specs: list) -> str:
        rows = " UNION ALL ".join(
            f"SELECT doc_id, {k} AS band, "
            f"concat_ws(',', {', '.join(f'm{i}' for i in idxs)}) AS bkey "
            f"FROM sig"
            for k, idxs in enumerate(specs)
        )
        return f"""b{tag} AS ({rows}),
        c{tag} AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM b{tag} a JOIN b{tag} b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        ),
        m{tag} AS (
          SELECT c.doc_a, c.doc_b, count(*) AS nc
          FROM c{tag} c
          JOIN ex ea ON ea.doc_id = c.doc_a
          JOIN ex eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
          GROUP BY 1, 2
        ),
        s{tag} AS (
          SELECT '{tag}' AS config,
                 CAST((SELECT count(*) FROM c{tag}) AS BIGINT) AS n_candidates,
                 CAST(count(*) AS BIGINT) AS n_overlapping,
                 CAST(sum(CASE WHEN m.nc * 1.0
                               / (sa.nsh + sb.nsh - m.nc) >= 0.5
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_verified
          FROM m{tag} m
          JOIN sig sa ON sa.doc_id = m.doc_a
          JOIN sig sb ON sb.doc_id = m.doc_b
        )"""

    specs_4x4 = [tuple(range(4 * k, 4 * k + 4)) for k in range(N_BANDS)]
    specs_16x1 = [(i,) for i in range(len(MINHASH_A))]
    shared = _MINHASH_CTES.split(", bands AS")[0]  # sh/ex/hashed/sig
    return f"""
    WITH {shared},
    {bands_cte('bands_4x4', specs_4x4)},
    {bands_cte('bands_16x1', specs_16x1)}
    SELECT config, n_candidates, n_verified,
           CAST(n_verified * 1000 // greatest(n_candidates, 1) AS BIGINT)
               AS precision_permille
    FROM (SELECT * FROM sbands_4x4 UNION ALL SELECT * FROM sbands_16x1)
    """


@q("dedup_band_tuning_report", _band_stats_sql())
def dedup_band_tuning_report(spark, sf_dir):
    """LSH BAND-TUNING report — measure, don't guess, applied to the
    dedup index itself: for the classic 4×4 banding and the
    high-recall 16×1 banding, the candidate-pair volume, the verified
    (Jaccard ≥ 0.5) count, and integer-permille precision. This is
    the table that justifies which banding a 100 TB dedup run deploys
    (recall rises with 16×1, precision and candidate volume pay for
    it); both configs share one shingle/signature computation.

    Plan (r10): both configs read the SAME two shared per-banding
    candidate-stat frames the rest of the pack consumes
    (``_lsh_pair_stats`` with ``with_zero=True`` — the stored frame
    keeps zero-overlap candidates precisely so this report counts raw
    candidate volume); the report is then two candidate-grain
    aggregates + a 2-row union. The former private tagged-explode
    chain re-ran the 20-band self-join + verification from scratch
    every run even though 7 sibling entries had already materialized
    the identical per-banding stats."""
    jac_ok = (
        F.col("nc") * 1.0 / (F.col("nsha") + F.col("nshb") - F.col("nc")) >= 0.5
    )

    def _cfg_report(tag, specs):
        return (
            _lsh_pair_stats(spark, sf_dir, specs, with_zero=True)
            .groupBy(F.lit(tag).alias("config"))
            .agg(
                F.count("*").cast("long").alias("n_candidates"),
                F.sum(F.when(jac_ok, 1).otherwise(0))
                .cast("long")
                .alias("n_verified"),
            )
            .select(
                "config",
                "n_candidates",
                "n_verified",
                F.expr("n_verified * 1000 div greatest(n_candidates, 1)")
                .cast("long")
                .alias("precision_permille"),
            )
        )

    return _cfg_report("bands_4x4", BANDS_4x4).unionByName(
        _cfg_report("bands_16x1", BANDS_16x1)
    )


_CONTAIN_QDOC = 0  # the query document (deterministic)


@q(
    "dedup_containment_search",
    f"""
    WITH sh AS (
      SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), qset AS (
      SELECT DISTINCT s FROM ex WHERE doc_id = {_CONTAIN_QDOC}
    ), qn AS (SELECT count(*) AS nq FROM qset)
    SELECT e.doc_id,
           CAST(count(*) AS BIGINT) AS n_overlap,
           CAST(qn.nq AS BIGINT) AS n_query_shingles,
           CAST(count(*) * 1000 // qn.nq AS BIGINT) AS containment_permille
    FROM ex e JOIN qset q ON q.s = e.s CROSS JOIN qn
    WHERE e.doc_id != {_CONTAIN_QDOC}
    GROUP BY e.doc_id, qn.nq
    HAVING count(*) * 1000 // qn.nq >= 10
    """,
)
def dedup_containment_search(spark, sf_dir):
    """QUERY-DRIVEN containment search — the plagiarism/copy-detection
    access pattern the pair-wise dedup entries don't cover: given ONE
    query document, find every corpus document containing >= 1% of
    the query's shingle set (asymmetric — a short quote inside a long
    doc scores high where Jaccard would not). The query's shingles
    broadcast (one document's worth), so the search is a single
    broadcast semi-join over the corpus shingle stream plus one keyed
    aggregation — at 100 TB this is exactly an inverted-index probe.
    Integer permille containment; dedup_pair_scores carries the
    pairwise version of the same signal."""
    (docs,) = _docs(spark, sf_dir)
    sh = docs.filter(F.size(F.split("text", " ")) >= 3).select(
        "doc_id", F.expr(SPARK_SHINGLES).alias("shingles")
    )
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    qset = (
        ex.where(F.col("doc_id") == _CONTAIN_QDOC).select("s").distinct()
    )
    nq = qset.count()
    return (
        ex.where(F.col("doc_id") != _CONTAIN_QDOC)
        .join(F.broadcast(qset), "s")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_overlap"))
        .select(
            "doc_id",
            "n_overlap",
            F.lit(nq).cast("long").alias("n_query_shingles"),
            F.expr(f"n_overlap * 1000 div {nq}")
            .cast("long")
            .alias("containment_permille"),
        )
        .where(F.col("containment_permille") >= 10)
    )


@q(
    "dedup_minhash_calibration",
    f"""
    WITH {_MINHASH_CTES}
    SELECT cm.doc_a, cm.doc_b,
           CAST(({' + '.join(
               f'CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END'
               for i in range(len(MINHASH_A))
           )}) * 1000 // {len(MINHASH_A)} AS BIGINT) AS est_permille,
           CAST(cm.nc * 1000 // (sa.nsh + sb.nsh - cm.nc) AS BIGINT)
               AS exact_permille
    FROM common cm
    JOIN sig sa ON sa.doc_id = cm.doc_a
    JOIN sig sb ON sb.doc_id = cm.doc_b
    """,
)
def dedup_minhash_calibration(spark, sf_dir):
    """MinHash CALIBRATION — per LSH candidate pair, the sketch's own
    Jaccard estimate (fraction of agreeing minhashes, integer
    permille over 16 hashes) next to the exact shingle Jaccard: the
    table that tells you how much to trust the 16-hash signature
    before deploying it as the only similarity signal (E[agreement] =
    J; the spread around it at 16 hashes is what this measures on
    real pairs). Same candidate generation and verification joins as
    dedup_minhash_lsh — the calibration is one extra projection."""
    stats = _lsh_pair_stats(spark, sf_dir, BANDS_4x4)
    sig = _minhash_sig(spark, sf_dir)
    n_h = len(MINHASH_A)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(n_h)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(n_h)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(n_h)
    )
    return (
        stats.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (agree * 1000 / F.lit(n_h)).cast("long").alias("est_permille"),
            F.expr("nc * 1000 div (nsha + nshb - nc)")
            .cast("long")
            .alias("exact_permille"),
        )
    )


@q(
    "dedup_cross_split_contamination",
    f"""
    WITH {_MINHASH_CTES},
    pairs AS (
      SELECT cm.doc_a, cm.doc_b,
             round(nc * 1.0 / (sa.nsh + sb.nsh - nc), 6) AS jaccard
      FROM common cm
      JOIN sig sa ON sa.doc_id = cm.doc_a
      JOIN sig sb ON sb.doc_id = cm.doc_b
      WHERE nc * 1.0 / (sa.nsh + sb.nsh - nc) >= 0.5
    ),
    sp AS (
      SELECT doc_id,
             CASE WHEN (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT)
                       % 100 < 80 THEN 'train'
                  WHEN (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT)
                       % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT p.doc_a, p.doc_b, a.split AS split_a, b.split AS split_b, p.jaccard
    FROM pairs p
    JOIN sp a ON a.doc_id = p.doc_a
    JOIN sp b ON b.doc_id = p.doc_b
    WHERE a.split != b.split
    """,
)
def dedup_cross_split_contamination(spark, sf_dir):
    """TRAIN/TEST LEAKAGE by NEAR-duplication — the contamination mode
    8-gram exact decontam (t_decontam_overlap) misses: every verified
    MinHash-LSH near-dup pair (Jaccard >= 0.5) whose two documents fall
    in DIFFERENT splits of the deterministic 80/10/10 hash split
    (t_split_deterministic's assignment). A train–test row here means
    the eval set leaks paraphrased training data even though no 8-gram
    matches exactly.

    Scale shape: the pair side is the LSH scale path (banded
    candidates, verification on candidates only); the split is a
    per-row projection joined onto the pair endpoints by doc_id — two
    keyed equi-joins on a pair table that is orders of magnitude
    smaller than the corpus."""
    (docs,) = _docs(spark, sf_dir)
    pairs = _lsh_verified_pairs(spark, sf_dir, BANDS_4x4)
    h = F.expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10)"
        " as bigint) % 100"
    )
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )
    sp = docs.select("doc_id", split.alias("split"))
    return (
        pairs.join(
            sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")),
            "doc_a",
        )
        .join(
            sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")),
            "doc_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b", "jaccard")
    )


@q(
    "dedup_containment_pairs",
    f"""
    WITH sh AS (
      SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), hashed AS (
      SELECT doc_id, {DUCK_H31} AS h FROM ex
    ), sig AS (
      SELECT doc_id,
             {', '.join(f'{e} AS m{i}' for i, e in enumerate(_minhash_sql_exprs('h')))},
             count(*) AS nsh
      FROM hashed GROUP BY doc_id
    ), bands AS (
      {' UNION ALL '.join(
        f"SELECT doc_id, {i} AS band, CAST(m{i} AS VARCHAR) AS bkey FROM sig"
        for i in range(len(MINHASH_A))
      )}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ), common AS (
      SELECT c.doc_a, c.doc_b, count(*) AS nc
      FROM cand c
      JOIN ex ea ON ea.doc_id = c.doc_a
      JOIN ex eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
      GROUP BY 1, 2
    )
    SELECT cm.doc_a, cm.doc_b,
           CAST(nc * 1000 // least(sa.nsh, sb.nsh) AS BIGINT)
               AS containment_permille,
           round(nc * 1.0 / (sa.nsh + sb.nsh - nc), 6) AS jaccard
    FROM common cm
    JOIN sig sa ON sa.doc_id = cm.doc_a
    JOIN sig sb ON sb.doc_id = cm.doc_b
    WHERE nc * 1000 // least(sa.nsh, sb.nsh) >= 800
      AND nc * 1.0 / (sa.nsh + sb.nsh - nc) < 0.5
    """,
)
def dedup_containment_pairs(spark, sf_dir):
    """ASYMMETRIC CONTAINMENT pairs — excerpt/quote relations that
    symmetric near-dup MISSES: candidate pairs whose shingle
    containment |A∩B| / min(|A|,|B|) >= 0.8 while Jaccard < 0.5 (one
    document largely inside a much larger one, union-dominated so the
    symmetric score stays low). The curation action differs from dup
    removal: keep the superset, or deduplicate at chunk grain.

    Scale shape: the HIGH-RECALL 16x1 banding feeds candidates (a
    subset-of relation rarely shares full 4-hash bands but often shares
    single minhashes); verification touches candidates only; the
    containment ratio is exact integer permille. Honest recall note:
    P(some single minhash collides) ~ 1-(1-|A∩B|/|B|)^16, which decays
    as the superset grows — measured in the planted-excerpt law test
    (4x superset: reliable; 10x: coin-flip). True asymmetric search at
    extreme size ratios uses the query-driven inverted-index probe
    (dedup_containment_search) or bottom-k sketches of the SMALL side
    — both present in this pack."""
    (docs,) = _docs(spark, sf_dir)
    stats = _lsh_pair_stats(spark, sf_dir, BANDS_16x1)
    contain = F.expr("nc * 1000 div least(nsha, nshb)")
    jac = F.col("nc") * 1.0 / (F.col("nsha") + F.col("nshb") - F.col("nc"))
    # Filter on the UNROUNDED jaccard (the oracle filters the unrounded
    # value too); round only in the projected output column — otherwise a
    # true Jaccard in [0.4999995, 0.5) would round to 0.5 and diverge.
    return (
        stats.select(
            "doc_a",
            "doc_b",
            contain.cast("long").alias("containment_permille"),
            F.round(jac, 6).alias("jaccard"),
            jac.alias("_jac_raw"),
        )
        .where((F.col("containment_permille") >= 800) & (F.col("_jac_raw") < 0.5))
        .drop("_jac_raw")
    )


@q(
    "dedup_lsh_recall_vs_exact",
    f"""
    WITH {_MINHASH_CTES},
    lsh AS (
      SELECT cm.doc_a, cm.doc_b
      FROM common cm
      JOIN sig sa ON sa.doc_id = cm.doc_a
      JOIN sig sb ON sb.doc_id = cm.doc_b
      WHERE nc * 1.0 / (sa.nsh + sb.nsh - nc) >= 0.5
    ), exact_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), exact_th AS (
      SELECT e.doc_a, e.doc_b
      FROM exact_pairs e
      JOIN sig sa ON sa.doc_id = e.doc_a
      JOIN sig sb ON sb.doc_id = e.doc_b
      WHERE c * 1.0 / (sa.nsh + sb.nsh - c) >= 0.5
    ), found AS (
      SELECT l.doc_a FROM lsh l
      JOIN exact_th e ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
    )
    SELECT CAST((SELECT count(*) FROM exact_th) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
           CAST((SELECT count(*) FROM found) AS BIGINT) AS n_found,
           CAST((SELECT count(*) FROM found) * 1000
                // greatest((SELECT count(*) FROM exact_th), 1) AS BIGINT)
               AS recall_permille
    """,
)
def dedup_lsh_recall_vs_exact(spark, sf_dir):
    """RECALL GATE for the text-LSH path — the same measured-fidelity
    discipline the embedding side already has (dedup_embedding_lsh_recall):
    how many of the exhaustive shingle-join verifier's Jaccard >= 0.5
    pairs does the 4x4-banded MinHash index recover? Theory says
    1 - (1 - s^4)^4 (~0.97 at s = 0.5, ->1 above); this measures it on
    the real corpus so a banding regression (or an unlucky hash family)
    shows up as a number, not an assumption.

    Scale shape: the LSH side is the standard banded path; the exact
    side is the DECLARED quadratic verifier (shingle equi-join — bounded
    by shingle collisions, run only at audit scale, exactly like the
    brute-force ANN recall oracles)."""
    lsh = _lsh_verified_pairs(spark, sf_dir, BANDS_4x4).select("doc_a", "doc_b")
    exact = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    found = lsh.join(exact, ["doc_a", "doc_b"])
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(lsh.agg(F.count("*").alias("n_lsh")))
        .crossJoin(found.agg(F.count("*").alias("n_found")))
        .select(
            "n_exact",
            "n_lsh",
            "n_found",
            F.expr("n_found * 1000 div greatest(n_exact, 1)")
            .cast("long")
            .alias("recall_permille"),
        )
    )


# Boundary-stitch width: the tail/head n-gram that detects documents
# produced by splitting one upstream page into overlapping crawl chunks.
_BOUNDARY_K = 3


@q(
    "dedup_boundary_overlap",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), b AS (
      SELECT doc_id,
             array_to_string(ws[1:{_BOUNDARY_K}], ' ') AS firstk,
             array_to_string(ws[len(ws)-{_BOUNDARY_K}+1:len(ws)], ' ')
                 AS lastk
      FROM t WHERE len(ws) >= {2 * _BOUNDARY_K}
    )
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           a.lastk AS boundary_ngram
    FROM b a JOIN b c ON a.lastk = c.firstk AND a.doc_id <> c.doc_id
    """,
)
def dedup_boundary_overlap(spark, sf_dir):
    """Crawl-chunk boundary stitching: find ordered document pairs where
    A's trailing {_BOUNDARY_K}-gram equals B's leading {_BOUNDARY_K}-gram
    — the signature of one upstream page split into overlapping chunks
    by the extractor (a duplication mode MinHash misses, because the
    chunks' OVERALL Jaccard is low while the seam match is exact).
    Output is the directed pair plus the seam n-gram itself.

    Exactness: pure string equality. Plan/scale shape: the boundary
    projection is per-row (slice/array_join — no explode); the pair
    discovery is an equi-join keyed on the seam string — candidates
    are only docs sharing an exact boundary hash, never an all-pairs
    form; at 100 TB the seam key distributes like any token-hash key
    (salt if one boilerplate seam dominates)."""
    (docs,) = _docs(spark, sf_dir)
    k = _BOUNDARY_K
    ws = F.split("text", " ")
    b = docs.select(
        "doc_id",
        F.array_join(F.slice(ws, 1, k), " ").alias("firstk"),
        F.array_join(F.slice(ws, -k, k), " ").alias("lastk"),
    ).filter(F.size(ws) >= 2 * k)
    a = b.alias("a")
    c = b.alias("c")
    return (
        a.join(
            c,
            (F.col("a.lastk") == F.col("c.firstk"))
            & (F.col("a.doc_id") != F.col("c.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("c.doc_id").alias("doc_b"),
            F.col("a.lastk").alias("boundary_ngram"),
        )
    )


@q(
    "dedup_prefix_filter_join",
    # Same truth as dedup_ngram_jaccard by the AllPairs completeness
    # theorem (see docstring), so the oracle is the exhaustive form.
    REGISTRY["dedup_ngram_jaccard"][1],
)
def dedup_prefix_filter_join(spark, sf_dir):
    """EXACT set-similarity join via PREFIX FILTERING (the AllPairs /
    PPJoin family): zero recall loss, unlike LSH/banding. Tokens get a
    GLOBAL rarest-first total order (ascending corpus frequency, ties by
    token); each document's candidate-generating prefix is its first
    floor(n/2)+1 shingles in that order — for Jaccard >= 0.5 the overlap
    bound c >= ceil(n/2) plus a pigeonhole on the order guarantees the
    smallest shared shingle lies in BOTH prefixes, so the prefix
    equi-join enumerates every qualifying pair (completeness ==
    dedup_ngram_jaccard pinned in test, and the oracle IS the exhaustive
    form's SQL). Verification computes exact Jaccard on candidates only.

    Scale shape: frequency is one keyed aggregate; ranking is a window
    PARTITIONED by doc (never global); candidates key on the prefix
    token — volume is driven by rare-token collisions instead of
    all-pairs, the same reason AllPairs beats naive joins on real
    corpora. Rarest-first ordering minimizes prefix-token bucket sizes,
    the knob that keeps candidate volume near-linear at 100 TB."""
    (docs,) = _docs(spark, sf_dir)
    sh = docs.filter(F.size(F.split("text", " ")) >= 3).select(
        "doc_id", F.expr(SPARK_SHINGLES).alias("shingles")
    )
    from pyspark.sql import Window as W

    ex = sh.select(
        "doc_id",
        F.size("shingles").alias("n"),
        F.explode("shingles").alias("s"),
    )
    freq = ex.groupBy("s").agg(F.count("*").alias("freq"))
    w = W.partitionBy("doc_id").orderBy("freq", "s")
    prefix = (
        ex.join(freq, "s")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= F.expr("n div 2 + 1"))
        .select("doc_id", "s")
    )
    pa = prefix.select(F.col("doc_id").alias("doc_a"), "s")
    pb = prefix.select(F.col("doc_id").alias("doc_b"), "s")
    cand = (
        pa.join(pb, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ea = ex.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "s")
    eb = ex.select(
        F.col("doc_id").alias("db"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
    )
    common = (
        cand.join(ea, "doc_a")
        .join(eb, (F.col("doc_b") == F.col("db")) & (F.col("s") == F.col("sb")))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("c"))
    )
    jac = F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup — the web-pipeline pre-pass (CCNet/Dolma
# style): the same page arrives under many raw URL spellings (scheme
# case, www., default ports, utm_* tracking params, fragments, trailing
# slashes); canonicalize FIRST, then exact-dedup on the canonical form.
# The harness ships no URL column, so raw URLs derive deterministically
# from doc_id (the established key-derived-column idiom, see erq/geoq)
# with the messiness injected by doc_id residues — both engines build
# bit-identical raw strings, then must agree on the CANONICALIZATION
# string pipeline itself (the thing under test; regexes stay in the
# Java/RE2 common subset).
_URL_RAW_SQL = """
      concat(
        CASE doc_id % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'https'
                        ELSE 'HTTPS' END,
        '://',
        CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END,
        'Site', CAST(doc_id % 4 AS VARCHAR), '.Example.COM',
        CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END,
        '/Docs/', CAST(doc_id % 10 AS VARCHAR),
        CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
        CASE WHEN doc_id % 4 = 0 THEN '?utm_campaign=feed' ELSE '' END,
        CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END)
"""


@q(
    "dedup_url_canonical",
    f"""
    WITH raw AS (
      SELECT doc_id, {_URL_RAW_SQL} AS url FROM documents
    ), canon AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       lower(url), '#.*$', ''),
                     '\\?utm_[^#]*$', ''),
                   '^(https?)://www\\.', '\\1://'),
                 '^(https?://[^/]+):443(/|$)', '\\1\\2'),
               '/$', '') AS curl,
             url
      FROM raw
    )
    SELECT curl,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc
    FROM canon
    GROUP BY curl
    """,
)
def dedup_url_canonical(spark, sf_dir):
    """URL-CANONICAL exact dedup: lowercase, strip fragments, utm_*
    tracking queries, leading www., the https default port, and
    trailing slashes, then group on the canonical URL — keeper is the
    lowest doc_id (the dedup_exact keep-rule). Output is canonical-URL
    grain: group size, how many distinct RAW spellings collapsed, and
    the keeper.

    Scale shape: canonicalization is a map-only chain of five
    regexp_replace projections (0 exchanges, scan-bound — the same
    class as the PII scrub); the dedup itself is ONE keyed groupBy
    shuffle on the canonical string. At 100 TB the canonical URL is
    also the natural bucketing key for the downstream content join.
    Regex notes for cross-engine parity: backreference-free patterns,
    anchored with $ (safe here: URLs are single-line by construction),
    and the port strip runs after lowercasing but before the
    trailing-slash strip so 'HTTPS://host:443/' collapses like its
    clean twin."""
    (docs,) = _docs(spark, sf_dir)
    raw = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit("http"))
            .when(F.col("doc_id") % 3 == 1, F.lit("https"))
            .otherwise(F.lit("HTTPS")),
            F.lit("://"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(
                F.lit("")
            ),
            F.lit("Site"),
            (F.col("doc_id") % 4).cast("string"),
            F.lit(".Example.COM"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(":443")).otherwise(
                F.lit("")
            ),
            F.lit("/Docs/"),
            (F.col("doc_id") % 10).cast("string"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit("?utm_campaign=feed")
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 6 == 0, F.lit("#section-2")).otherwise(
                F.lit("")
            ),
        ).alias("url"),
    )
    curl = F.lower(F.col("url"))
    curl = F.regexp_replace(curl, "#.*$", "")
    curl = F.regexp_replace(curl, r"\?utm_[^#]*$", "")
    curl = F.regexp_replace(curl, r"^(https?)://www\.", "$1://")
    # anchored to the AUTHORITY (ADVICE r6): an unanchored ':443/' would
    # corrupt any path/query segment containing it, and miss the
    # default port when no slash follows ('https://host:443').
    curl = F.regexp_replace(curl, r"^(https?://[^/]+):443(/|$)", "$1$2")
    curl = F.regexp_replace(curl, "/$", "")
    return (
        raw.select("doc_id", "url", curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("url").cast("long").alias("n_raw_forms"),
            F.min("doc_id").cast("long").alias("keeper_doc"),
        )
    )


@q(
    "dedup_cluster_size_profile",
    f"""
    WITH RECURSIVE {_DUCK_EDGE_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), reach AS (
      SELECT DISTINCT src AS doc_id, src AS comp FROM edges
      UNION
      SELECT e.dst AS doc_id, r.comp
      FROM reach r JOIN edges e ON e.src = r.doc_id
    ), asg AS (
      SELECT doc_id, min(comp) AS component
      FROM reach GROUP BY doc_id
    ), sz AS (
      SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
      FROM asg GROUP BY component
    )
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM sz GROUP BY cluster_size ORDER BY cluster_size
    """,
)
def dedup_cluster_size_profile(spark, sf_dir):
    """NEAR-DUP CLUSTER SIZE DISTRIBUTION — the shape readout that
    tells a dedup operator WHAT kind of duplication the corpus has
    (a long tail of pairs = boilerplate variants; a few giant
    clusters = template farms or mirror sites, the thing to kill
    first): for every near-dup cluster size, how many clusters and how
    many documents sit at that size. Conservation law (test-pinned):
    sum(cluster_size * n_clusters) == clustered documents.

    Scale shape: rides the shared verified-pair + connected-components
    spine of dedup_cc_clusters (size-gated union-find with the
    distributed min-label fallback), then two keyed aggregates at
    cluster and size grain — both bounded by the cluster structure,
    not the corpus."""
    asg = dedup_cc_clusters(spark, sf_dir)
    sz = asg.groupBy("component").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return (
        sz.groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@q(
    "t_dedup_mix_shift",
    """
    WITH before AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_before FROM documents
      GROUP BY source
    ), keep AS (
      SELECT min(doc_id) AS keep_doc_id FROM documents GROUP BY md5(text)
    ), after AS (
      SELECT d.source, CAST(count(*) AS BIGINT) AS n_after
      FROM documents d JOIN keep k ON d.doc_id = k.keep_doc_id
      GROUP BY d.source
    ), tot AS (
      SELECT CAST(sum(n_before) AS BIGINT) AS tb FROM before
    ), tot2 AS (
      SELECT CAST(sum(n_after) AS BIGINT) AS ta FROM after
    )
    SELECT b.source, b.n_before, coalesce(a.n_after, 0) AS n_after,
           CAST(b.n_before * 1000 // tb AS BIGINT) AS share_before_pm,
           CAST(coalesce(a.n_after, 0) * 1000 // ta AS BIGINT)
               AS share_after_pm,
           CAST(coalesce(a.n_after, 0) * 1000 // ta
                - b.n_before * 1000 // tb AS BIGINT) AS shift_pm
    FROM before b LEFT JOIN after a USING (source), tot, tot2
    ORDER BY b.source
    """,
)
def t_dedup_mix_shift(spark, sf_dir):
    """DEDUP MIX-SHIFT audit — what exact dedup does to the corpus
    composition (the question a data-mixture owner asks before
    re-weighting: dedup removes MORE from boilerplate-heavy feeds, so
    the post-dedup source mix is NOT the pre-dedup mix): per source,
    document counts and permille shares before/after keep-lowest-doc_id
    exact dedup, and the signed share shift. The shift column is a
    DIFFERENCE of two nonnegative floor divisions (each engine computes
    the identical pair before subtracting), so the signed value never
    meets a floor-vs-truncate division.

    Scale shape: the dedup_exact hash-groupBy (one shuffle, map-side
    partials), one keyed membership join on the survivor ids, two
    source-grain rollups and two 1-row totals broadcasts."""
    (docs,) = _docs(spark, sf_dir)
    before = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_before")
    )
    keep = docs.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("keep_doc_id")
    ).select("keep_doc_id")
    after = (
        docs.join(keep, docs["doc_id"] == keep["keep_doc_id"])
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_after"))
    )
    tb = before.agg(F.sum("n_before").cast("long").alias("tb"))
    ta = after.agg(F.sum("n_after").cast("long").alias("ta"))
    return (
        before.join(after, "source", "left")
        .crossJoin(F.broadcast(tb))
        .crossJoin(F.broadcast(ta))
        .selectExpr(
            "source",
            "n_before",
            "coalesce(n_after, 0) AS n_after",
            "CAST(n_before * 1000 div tb AS BIGINT) AS share_before_pm",
            "CAST(coalesce(n_after, 0) * 1000 div ta AS BIGINT)"
            " AS share_after_pm",
            "CAST(coalesce(n_after, 0) * 1000 div ta"
            " - n_before * 1000 div tb AS BIGINT) AS shift_pm",
        )
        .orderBy("source")
    )
