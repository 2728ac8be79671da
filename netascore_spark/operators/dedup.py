"""Deduplication operators for training-data pipelines (documents table).

- exact            — hash-groupBy on content digest (md5), canonical=min id
- ngram Jaccard    — shingle inverted-index candidate join + exact Jaccard
- MinHash + LSH    — k permutations, b bands -> bucket join (scale path)
- SimHash          — 64-bit near-dup signature, Hamming-bucket join

Exact and ngram-Jaccard are pure DataFrame ops (SQL-oracle-able); MinHash/
SimHash signatures need integer hashing loops -> Arrow pandas UDFs, verified
in pytest against brute-force Jaccard instead of the SQL oracle.

Scale notes: the shingle join explodes |docs| x |shingles| rows, so shingles
that occur in more than ``max_df`` documents are dropped from candidate
generation (stopword shingles would otherwise produce quadratic blowup in
hot buckets — same skew story as hot H3 cells).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from netascore_spark.operators import spatial
from netascore_spark.pipeline import cache


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (digest, canonical_id, n_dups)."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row per distinct text (the min-id representative)."""
    w_min = (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.min(id_col).alias(id_col))
    )
    return docs.join(w_min, id_col, "left_semi")


# ---------------------------------------------------------------------------
# word n-gram Jaccard
# ---------------------------------------------------------------------------

def _shingles(text_col: str, n: int):
    toks = F.split(F.trim(F.lower(F.col(text_col))), "\\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))


def _spread(df: DataFrame) -> DataFrame:
    """Ensure at least defaultParallelism partitions: a small parquet file
    scans as ONE split, which would serialize the shingle explode (the
    expensive part) onto one core regardless of cluster size."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def with_shingles(docs: DataFrame, id_col="doc_id", text_col="text", n=3) -> DataFrame:
    return _spread(docs).select(F.col(id_col), _shingles(text_col, n).alias("shingles"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int = 100,
) -> DataFrame:
    """Near-duplicate pairs with word-``n``-gram Jaccard >= threshold.

    Candidates: docs sharing a (non-stop) prefix shingle; exact Jaccard
    |A∩B| / (|A|+|B|-|A∩B|) over the docs' shingle-hash sets — no second
    pass over the texts.

    Not fully lazy: building the DataFrame runs ONE Spark job that
    materializes the persisted per-doc hash-array table (tracked in
    ``pipeline.cache``), so the attach joins are planned on its real size.
    """
    # Shingle construction is CODEGEN-NATIVE, not the `_shingles` HOF chain
    # (transform(slice + array_join) per shingle is CodegenFallback —
    # interpreted per-row with per-shingle array/string allocations; it was
    # ~80% of this operator's wall at 200k docs, the same disease the PIP
    # join had before its exploded-ring rewrite).  The n shifted `slice`s
    # zip into an array of n-token structs (all native expressions), and
    # the only HOF left maps each struct to ONE xxhash64 call — no string
    # concatenation, no per-element slicing: 43 s -> 6 s on the bench
    # corpus at 8 cores.
    #
    # Joining on xxhash64 of the shingle rather than the string also halves
    # the dominant shuffle (8-byte key vs multi-word string) and makes the
    # groupBy/join comparisons long-vs-long.  A collision would inflate one
    # pair's intersection count by 1 (worst case: one spurious near-dup
    # pair); the chance ANY collision exists is ~n^2/2^65 — ~4e-6 at 10M
    # distinct shingles, ~0.03 even at 10^9 — an accepted trade
    # (minhash_lsh_pairs already accepts the same md5-truncation trade).
    # Within-doc dedup (the reference semantics: Jaccard over shingle SETS)
    # is array_distinct over the primitive hash array — tuple equality and
    # joined-string equality coincide because tokens cannot contain
    # whitespace.
    toks = F.split(F.trim(F.lower(F.col(text_col))), "\\s+")
    base = _spread(docs).select(
        F.col(id_col), toks.alias("__toks"), F.size(toks).alias("__sz")
    )
    # greatest(.., 0) keeps the slice length TOTAL: the optimizer infers a
    # size(hashes) > 0 predicate from the explode and pushes it below the
    # __sz >= n guard with the defining expression substituted in, where
    # codegen subexpression elimination evaluates it BEFORE the guard's
    # short-circuit — a negative length would throw on short docs even
    # though the branch filter excludes them.  Length-0 slices yield empty
    # arrays, which the inferred predicate then drops, consistently.
    m = F.greatest(F.col("__sz") - n + 1, F.lit(0))
    zipped = F.arrays_zip(*[F.slice("__toks", i + 1, m) for i in range(n)])
    hashes = F.array_distinct(
        F.transform(zipped, lambda s: F.xxhash64(*[s[str(i)] for i in range(n)]))
    )
    # The hash array MUST be materialized as a named column in its own
    # projection before size()/explode() touch it: with both in one select,
    # ExtractGenerator inlines the full transform+array_distinct expression
    # into the projection ABOVE the Generate, where it is re-evaluated per
    # EXPLODED row — O(shingles^2) per document (measured 9x on the bench
    # corpus: 35 s -> 4 s for the inverted-index build at 8 cores).  The
    # same inlined-expression hazard is documented at
    # operators/similarity.py:quantize_int8.  Column pruning hides it from
    # any probe that drops n_sh (a bare count() runs fast either way).
    long_inv = (
        base.filter(F.col("__sz") >= n)
        .select(id_col, hashes.alias("__hs"))
        .select(
            id_col,
            F.size("__hs").alias("n_sh"),
            F.explode("__hs").alias("shingle"),
        )
    )
    # docs shorter than n tokens contribute their whole text as the single
    # shingle (matching `_shingles`); hashed as one string — two short docs
    # with identical text still pair, and a short shingle can never equal
    # an n-token one (true of the string form as well)
    short_inv = base.filter(F.col("__sz") < n).select(
        id_col,
        F.lit(1).alias("n_sh"),
        F.xxhash64(F.array_join("__toks", " ")).alias("shingle"),
    )
    inv = long_inv.unionByName(short_inv)
    # Keep only shingles with 2 <= df <= max_df.  The upper bound drops hot
    # (stop-word) shingles from candidate generation; the LOWER bound is an
    # exact optimization, not a heuristic: a shingle seen in one document
    # can never satisfy id_a < id_b, yet df=1 shingles are the vast
    # majority of an inverted index over natural text (most n-grams are
    # unique), so they would otherwise flow through BOTH sides of the
    # self-join shuffle and produce nothing.  Filtering them here shrinks
    # the self-join input by ~10x on the bench corpus, and the surviving
    # df_counts table is small enough that AQE converts this filter join
    # to a broadcast at runtime — the full inverted index then never
    # shuffles at all.  Post-filter keys carry <= max_df rows each, so the
    # self-join is skew-free by construction.
    # Known trade: inv has two consumers (the df count and the join probe),
    # so the shingle build runs twice — column pruning slims the df branch
    # to bare shingles, which also defeats ReuseExchange (the two exchanges
    # differ post-pruning).  Forcing a single shared exchange needs an
    # in-operator persist of the full inverted index (measured ~10-15% at
    # 800k docs) — rejected: caching |docs|x|shingles| rows is exactly the
    # footprint this operator must avoid at corpus scale, and the double
    # build parallelizes with cores (AQE runs both map stages concurrently).
    df_counts = inv.groupBy("shingle").agg(F.count("*").alias("df"))
    inv = inv.join(
        df_counts.filter((F.col("df") >= 2) & (F.col("df") <= max_df)),
        "shingle",
    )
    # Pair generation: PREFIX-FILTERED (AllPairs/PPJoin, Bayardo et al. /
    # Xiao et al. — public algorithms).  The previous form streamed EVERY
    # co-occurrence of every surviving shingle into one giant count
    # aggregation keyed by doc pair — 127M candidate rows at the 50k-doc
    # bench corpus, of which ~90% shared exactly ONE shingle while the
    # threshold needs ~0.375*(n_a+n_b) shared shingles; the aggregation
    # achieved no map-side compression (114M distinct pairs) and its
    # shuffle was the operator's wall (guide §2.3: shuffle fewer bytes by
    # not generating rows the threshold provably kills).
    #
    # Prefix-filter principle: order the token universe totally (here by
    # (df, hash) — rarest first maximizes pruning); if |A∩B| >= a then the
    # (|A|-a+1)-prefixes of A and B share a token.  For Jaccard >= t and
    # partners that survive the length filter (n_b >= t*n_a, else J < t),
    # the minimal required overlap is ceil(t*n_x), so indexing only each
    # doc's first |S_x| - ceil(t*n_x) + 1 ordered shingles generates every
    # qualifying pair.  Surviving candidates are then verified exactly
    # (array_intersect of the two full ordered hash arrays, attached below).
    #
    # alpha is computed as ceil(t*n - eps): for t*n exactly integral a
    # float excess (0.6*5 = 3.0000000000000004) would shorten the prefix
    # and MISS pairs; the eps only ever lengthens the prefix (safe side).
    # All pruning filters below use the same safe-side eps — the final
    # threshold test is the exact unrounded comparison, unchanged.
    surv = inv  # (id, n_sh, shingle, df) — shingles with df in [2, max_df]
    alpha = F.ceil(F.col("n_sh") * threshold - 1e-9).cast("int")
    by_doc = (
        surv.groupBy(F.col(id_col), F.col("n_sh"))
        .agg(F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("__sd"))
        # rarest-first global order; keep only the hash array (verification
        # needs set identity, not df).  Materialized as its own column
        # before slice/posexplode touch it (ExtractGenerator inlining —
        # same rule as __hs above).
        .select(
            id_col, "n_sh",
            F.transform("__sd", lambda s: s["shingle"]).alias("__S"),
        )
        .withColumn("__m", F.size("__S"))
        # docs whose surviving-shingle count can't reach alpha are in no
        # qualifying pair at all: prefix length <= 0 drops them here
        .withColumn(
            "__P",
            F.slice("__S", 1, F.greatest(F.col("__m") - alpha + 1, F.lit(0))),
        )
    )
    # Candidate layout (measured, round 6): embedding each doc's full hash
    # array in its prefix postings makes the verify stage self-contained,
    # but the FIRST of the two pair-Generates then carries the whole
    # per-shingle member list (~group_size x 540 B) on every exploded row
    # — ~21 GB of transient row payload at 50k docs, 80% of the operator's
    # wall, while array_intersect itself was cheap (a pair-count probe
    # without the verify ran in the same time as the full query).  So pair
    # generation runs on SLIM postings (id, n, m, p — no arrays), and the
    # two ordered hash arrays are attached per SURVIVING candidate by
    # equi-joins of the one-row-per-doc array table on doc id (ver 18.3 ->
    # 6.4 s at 50k docs).

    # by_doc feeds the postings AND the two verify joins: persist so the
    # shingle pipeline (double scan via df_counts) runs once, not three
    # times.  EAGER, and the operator's only eager job: once the cache is
    # populated its statistics are the real in-memory bytes, so the
    # planner broadcasts the array table into the attach joins exactly
    # when it fits spark.sql.autoBroadcastJoinThreshold and shuffles both
    # sides otherwise — the gate follows array bytes (document length),
    # not doc count.
    by_doc = cache.track(by_doc.persist())
    by_doc.count()
    pref = by_doc.select(
        F.col(id_col), F.col("n_sh"), F.col("__m"),
        F.posexplode("__P").alias("__p0", "shingle"),
    )
    # pin the group-exchange width: slim postings are ~16 MB of shuffle
    # bytes for ~10M downstream candidate pairs — AQE's byte-based
    # coalescing ran the whole verify on 2 tasks (105 s) without it.
    # The explicit same-key repartition IS the groupBy's exchange (no
    # second shuffle) and is exempt from coalescing.
    pref = spatial.spread(pref, "shingle")
    grouped = pref.groupBy("shingle").agg(
        F.collect_list(
            F.struct(
                F.col(id_col).alias("i"), F.col("n_sh").alias("n"),
                F.col("__m").alias("m"), (F.col("__p0") + 1).alias("p"),
            )
        ).alias("__mem")
    )
    # both Generates reference the bare materialized attribute (__mem /
    # __a) — same ExtractGenerator-inlining rule as the __hs explode
    cand = (
        grouped.select(F.explode("__mem").alias("__a"), F.col("__mem"))
        .select(F.col("__a"), F.explode("__mem").alias("__b"))
        .filter(F.col("__a.i") < F.col("__b.i"))
    )
    n_a, n_b = F.col("__a.n"), F.col("__b.n")
    # length filter: J <= min/max, so min(n) < t*max(n) can never pass
    length_ok = F.least(n_a, n_b) >= F.greatest(n_a, n_b) * threshold - 1e-9
    # positional filter: arrays share the global order, so the FIRST
    # shared token sits at the min position in both; for that occurrence
    # inter <= 1 + min(remaining_a, remaining_b).  Applied per occurrence:
    # a true pair's first occurrence always passes (the bound is valid
    # there), later occurrences may be pruned freely (duplicates anyway).
    ubound = F.lit(1) + F.least(
        F.col("__a.m") - F.col("__a.p"), F.col("__b.m") - F.col("__b.p")
    )
    alpha_pair = (n_a + n_b) * (threshold / (1.0 + threshold)) - 1e-9
    slim = cand.filter(length_ok & (ubound >= alpha_pair)).select(
        F.col("__a.i").alias("id_a"), F.col("__b.i").alias("id_b"),
        n_a.alias("n_a"), n_b.alias("n_b"),
    )
    arr_a = by_doc.select(F.col(id_col).alias("id_a"), F.col("__S").alias("__sa"))
    arr_b = by_doc.select(F.col(id_col).alias("id_b"), F.col("__S").alias("__sb"))
    verified = (
        slim.join(arr_a, "id_a").join(arr_b, "id_b")
        .select(
            "id_a", "id_b", "n_a", "n_b",
            F.size(F.array_intersect("__sa", "__sb")).alias("inter"),
        )
    )
    # threshold on the UNROUNDED value (matching exact SQL semantics —
    # rounding first would flip boundary pairs at jaccard ~= threshold),
    # round only the reported column.  A pair sharing several prefix
    # shingles is verified once per occurrence (identical verdict);
    # dropDuplicates runs on the tiny post-threshold survivor set.
    raw = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        verified.filter(raw >= threshold)
        .select("id_a", "id_b", F.round(raw, 6).alias("jaccard"))
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# corpus-level line dedup (CCNet-style) and benchmark decontamination
# ---------------------------------------------------------------------------

def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    max_count: int = 1,
) -> DataFrame:
    """CCNet-style corpus-level line deduplication: drop every line whose
    exact content occurs in more than ``max_count`` line slots across the
    WHOLE corpus (boilerplate headers/footers/cookie banners dominate raw
    web text), reassemble the survivors in original order.

    Returns (id, text_kept, n_kept, n_lines) — one row per input document,
    including documents whose every line was boilerplate (text_kept='').

    Scale shape: lines are keyed by ``xxhash64`` (8-byte shuffle key, never
    the line text) — the frequency count and the hot-set join then share
    one hash partitioning (count is map-side combined; the hot set is the
    *duplicated* lines only, far smaller than the line table), and the
    reassembly is a single groupBy(id).  A collision merges two distinct
    lines (both dropped spuriously) with probability ~n^2/2^65 — the same
    accepted trade as ngram_jaccard_pairs' shingle keys.  ``sep`` is a
    Java-regex for the split and a literal for the re-join, so pass a
    regex-free separator (the default newline is).
    """
    # NULL text coalesces to '' so the one-row-per-document contract holds
    # (posexplode of a NULL split would silently drop the document)
    lines = _spread(docs).select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), sep, -1)
        ).alias("pos", "line"),
    ).withColumn("__h", F.xxhash64("line"))
    hot = (
        lines.groupBy("__h")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > max_count)
    )
    flagged = lines.join(hot, "__h", "left")
    keep = F.col("__n").isNull()
    # collect_list skips the when()'s null branch, so only kept lines land
    # in the array; pos is unique per doc, so the struct sort restores
    # original order deterministically.  The transform HOF here runs once
    # per KEPT LINE on one row per document — not a hot path.
    return (
        flagged.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.when(keep, F.struct("pos", "line")))
            ).alias("__kept"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
            F.count("*").alias("n_lines"),
        )
        .select(
            id_col,
            F.array_join(
                F.transform("__kept", lambda s: s["line"]), sep
            ).alias("text_kept"),
            "n_kept",
            "n_lines",
        )
    )


def token_ngram_hashes(text_col: str, n: int) -> F.Column:
    """Distinct word-``n``-gram xxhash64 keys of a text column, built
    codegen-native (shifted-slice arrays_zip, no per-gram string concat —
    same construction and ExtractGenerator caveats as ngram_jaccard_pairs).
    Documents shorter than ``n`` tokens yield NULL (explode drops them).
    Tokens cannot contain whitespace, so hashing the n token fields is
    equivalent to hashing the joined string."""
    from .textstats import TOKEN_SPLIT

    toks = F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT)
    m = F.greatest(F.size(toks) - n + 1, F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, m) for i in range(n)])
    hashes = F.array_distinct(
        F.transform(zipped, lambda s: F.xxhash64(*[s[str(i)] for i in range(n)]))
    )
    return F.when(F.size(toks) >= n, hashes)


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    ``n``-gram with an evaluation-benchmark corpus (the standard 8-13-gram
    overlap rule for scrubbing eval sets out of web-scale training data).

    Returns (id, n_hits) for CONTAMINATED documents only — ``n_hits`` is
    the number of distinct n-grams of the document that occur anywhere in
    the benchmark; drop them with a left_anti join on id.

    Scale shape: the benchmark gram set is distinct-reduced then (by
    default) BROADCAST — benchmarks are small by nature (~1e5-1e6 docs)
    while the training corpus is the 10^12-doc side, so the train-side
    explode joins map-side with zero shuffle of the gram table; the only
    wide exchange is the per-doc hit count (hit rows only).  Grams are
    keyed by xxhash64 of the n token fields (8-byte keys, no gram strings
    ever shuffle) — collision odds as in ngram_jaccard_pairs.
    """
    grams = token_ngram_hashes(text_col, n)
    bench_grams = (
        _spread(benchmark)
        .select(F.explode(grams).alias("__g"))
        .distinct()
    )
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    train_grams = _spread(train).select(
        F.col(id_col), F.explode(grams).alias("__g")
    )
    # per-doc grams are already distinct (array_distinct in the builder),
    # so count(*) after the inner join is the distinct-hit count
    return (
        train_grams.join(bench_grams, "__g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# connected components / cluster canonicalization
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over an undirected pair list -> (node, comp),
    where ``comp`` is the minimum node id reachable from ``node``.

    Algorithm: min-label propagation with POINTER JUMPING (path halving).
    Each round every node adopts the minimum label among itself and its
    neighbours, then labels are compressed one hop (comp := comp(comp)).
    Plain propagation needs O(diameter) rounds; the jump makes the
    effective distance-to-root halve each round, i.e. O(log diameter).

    Scale shape: each round is one shuffle-join of the (static) edge table
    against the label table plus one label self-join for the jump — both
    keyed on node id, no cross products, partial aggregation on the
    neighbour min.  Lineage is cut per round so driver-side re-analysis
    stays O(1).  Convergence is detected by sum(comp): labels only ever
    decrease, so the sum strictly decreases until fixpoint — one cheap
    action per round, no changed-rows join.  Near-dup clusters produced by
    Jaccard/LSH thresholds are near-cliques (tiny diameter), so 2-3 rounds
    converge in practice; the log-diameter bound covers adversarial chains.
    """
    e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    edges = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    edges = cache.lineage_cut(edges)  # static across rounds: scan, don't recompute
    labels = (
        edges.select(F.col("u").alias("node")).distinct()
        .withColumn("comp", F.col("node"))
    )
    prev_sum = None
    for _ in range(max_iter):
        nbr = (
            edges.join(
                labels.select(F.col("node").alias("v"), F.col("comp").alias("vcomp")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vcomp").alias("nbr_min"))
        )
        new = (
            labels.join(nbr, labels["node"] == nbr["u"], "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("nbr_min", F.col("comp"))).alias("comp"),
            )
        )
        # pointer jump: comp := comp(comp) — comp values are node ids, so
        # the lookup always hits (coalesce is belt-and-braces)
        jump = new.select(F.col("node").alias("jn"), F.col("comp").alias("jc"))
        new = (
            new.join(jump, new["comp"] == jump["jn"], "left")
            .select("node", F.coalesce("jc", F.col("comp")).alias("comp"))
        )
        new = cache.lineage_cut(new)
        s = new.agg(F.sum("comp").alias("s")).collect()[0]["s"]
        labels = new
        if s == prev_sum:
            break
        prev_sum = s
    return labels


def dedup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int = 100,
) -> DataFrame:
    """Near-duplicate CLUSTERS (the stage after pair generation): n-gram
    Jaccard pairs -> connected components -> (doc_id, cluster_id,
    cluster_size).  ``cluster_id`` is the min doc id in the component (the
    canonical representative a pipeline would keep).  Only docs that appear
    in at least one near-dup pair are returned (singletons are trivially
    their own cluster)."""
    pairs = ngram_jaccard_pairs(docs, id_col, text_col, n, threshold, max_df)
    comp = connected_components(pairs)
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "comp")
        .select(
            F.col("node").alias(id_col),
            F.col("comp").alias("cluster_id"),
            "cluster_size",
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_P = (1 << 61) - 1  # Mersenne prime for universal hashing


def _hash_shingles(shingles: list[str]) -> np.ndarray:
    return np.array(
        [
            int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "little")
            for s in shingles
        ],
        dtype=np.uint64,
    )


def minhash_signature_udf(num_hashes: int = 64, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _P, size=num_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, _P, size=num_hashes, dtype=np.int64).astype(np.uint64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(shingles: pd.Series) -> pd.Series:
        out = []
        for sh in shingles:
            if sh is None or len(sh) == 0:
                out.append(None)
                continue
            h = _hash_shingles(list(sh))
            # (a*h + b) mod P, min per hash fn — object dtype avoids overflow
            vals = (
                (a[:, None].astype(object) * h[None, :].astype(object) + b[:, None].astype(object))
                % _P
            )
            out.append([int(v) for v in np.min(vals, axis=1)])
        return pd.Series(out)

    return _sig


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Candidate near-dup pairs via banding: docs sharing >=1 LSH bucket,
    with the estimated Jaccard (signature agreement rate)."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sh = with_shingles(docs, id_col, text_col, n)
    sig = sh.withColumn("sig", minhash_signature_udf(num_hashes, seed)(F.col("shingles"))).drop(
        "shingles"
    )
    sig.persist()
    # explode the bands straight off the row that already carries `sig`
    # (static band count -> literal array) — no self-join, one fewer shuffle
    band_buckets = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(
                    F.lit(i),
                    F.slice(F.col("sig"), i * rows_per_band + 1, rows_per_band),
                ).alias("bucket"),
            )
            for i in range(bands)
        ]
    )
    buckets = sig.select(
        F.col(id_col), F.explode(band_buckets).alias("bb")
    ).select(F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sig_a = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn(
            "est_jaccard",
            F.round(
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda e: e,
                    )
                )
                / F.lit(float(num_hashes)),
                6,
            ),
        )
        .select("id_a", "id_b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_udf(bits: int = 64):
    @F.pandas_udf(T.LongType())
    def _simhash(shingles: pd.Series) -> pd.Series:
        out = []
        for sh in shingles:
            if sh is None or len(sh) == 0:
                out.append(None)
                continue
            acc = np.zeros(bits, dtype=np.int64)
            shifts = np.arange(bits, dtype=np.uint64)
            for h in _hash_shingles(list(sh)):
                bitsarr = (np.uint64(h) >> shifts) & np.uint64(1)
                acc += np.where(bitsarr == 1, 1, -1)
            v = 0
            for i in range(bits):
                if acc[i] > 0:
                    v |= 1 << i
            # to signed int64
            out.append(v - (1 << 64) if v >= (1 << 63) else v)
        return pd.Series(out)

    return _simhash


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_hamming: int = 3,
    band_bits: int = 16,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, bucketed on 16-bit bands
    (a pair within Hamming<=3 of 64 bits shares >=1 of 4 exact bands)."""
    sh = with_shingles(docs, id_col, text_col, n)
    sig = sh.withColumn("simhash", simhash_udf()(F.col("shingles"))).drop("shingles")
    sig.persist()
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    bands = sig.select(
        id_col, "simhash",
        F.explode(F.array(*[F.lit(i) for i in range(n_bands)])).alias("band"),
    ).withColumn(
        "bucket",
        F.expr(f"(simhash >> (band * {band_bits})) & {mask}"),
    )
    a = bands.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "bucket")
    b = bands.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_df: int = 2,
    hash: str = "md5_61",
) -> DataFrame:
    """Substring-level duplicate detection — the winnowing-based analog of
    suffix-array substring dedup: locate spans whose content recurs across
    the corpus (licence boilerplate, templated paragraphs, quoted chunks),
    finer-grained than document-level near-dup.

    Returns (id, pos, fp, df): ``pos`` is the 1-based start of a k-char
    gram whose winnowing fingerprint ``fp`` occurs in ``df`` >= ``min_df``
    distinct documents.  The winnowing guarantee makes this a net, not a
    sample: every shared substring of length >= k + w - 1 between two
    documents puts at least one row inside the shared region in BOTH docs
    — callers mask/strip around the reported positions.

    Scale shape: fingerprinting is map-only (one Arrow-free native pass);
    the doc-frequency count shuffles one slim distinct (id, fp) row per
    doc-fingerprint (8-byte keys, partial-aggregated) and the final join
    is fp-keyed — no text ever shuffles, no all-pairs stage exists.  Hot
    fingerprints (boilerplate in millions of docs) carry one count row
    each; the per-doc output rows scale with the DOC's own span count.
    """
    from .textstats import winnow_fingerprint_positions, winnow_fingerprints

    arr = winnow_fingerprint_positions(F.col(text_col), k, w, hash=hash)
    # materialize the struct array before explode (ExtractGenerator rule)
    base = _spread(docs).select(F.col(id_col), arr.alias("__fps"))
    fps = base.select(F.col(id_col), F.explode("__fps").alias("__f")).select(
        F.col(id_col),
        F.col("__f.pos").alias("pos"),
        F.col("__f.fp").alias("fp"),
    )
    # The doc-frequency branch doesn't need positions: the SET variant
    # (winnow_fingerprints) emits per-doc-distinct fingerprints directly,
    # skipping the argmin work AND the row-level distinct shuffle the
    # positioned rows would need.  Identical fp values by construction
    # (same _gram_hashes, same window minima).  Like ngram_jaccard_pairs'
    # double shingle build, the two map branches run concurrently and an
    # in-operator persist of the positioned rows is exactly the footprint
    # to avoid at corpus scale.
    set_arr = winnow_fingerprints(F.col(text_col), k, w, hash=hash)
    set_base = _spread(docs).select(set_arr.alias("__sfps"))
    docfreq = (
        set_base.select(F.explode("__sfps").alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("df"))
    )
    return fps.join(docfreq.filter(F.col("df") >= min_df), "fp").select(
        id_col, "pos", "fp", "df"
    )


def mask_duplicated_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    fill: str = " ",
) -> DataFrame:
    """Apply ``duplicated_spans`` output back onto the corpus: every
    reported k-gram [pos, pos+k) is overwritten with ``fill`` characters,
    removing cross-corpus boilerplate content in place while preserving
    document length and the positions of the surviving text (so token
    offsets computed before masking stay valid).

    Returns the input documents with ``text`` masked and an
    ``n_masked_chars`` count; documents without spans pass through
    untouched.  Pass the SAME ``k`` the spans were generated with.

    Scale shape: spans aggregate to one position-array row per affected
    document (bounded by the doc's own span count), join back on the id
    key, and the rewrite is one Arrow-batched pandas UDF over (text,
    positions) — the only Python in the operator, unavoidable for
    per-index string surgery and proportional to affected docs only.
    """
    per_doc = spans.groupBy(id_col).agg(
        F.collect_set("pos").alias("__positions")
    )

    @F.pandas_udf(T.StructType([
        T.StructField("text", T.StringType()),
        T.StructField("n_masked_chars", T.IntegerType()),
    ]))
    def _mask(text: pd.Series, positions: pd.Series) -> pd.DataFrame:
        out_t, out_n = [], []
        for t, ps in zip(text, positions):
            if t is None or ps is None or len(ps) == 0:
                out_t.append(t)
                out_n.append(0)
                continue
            chars = list(t)
            hit = set()
            for p in ps:
                hit.update(range(p - 1, min(p - 1 + k, len(chars))))
            for i in hit:
                chars[i] = fill
            out_t.append("".join(chars))
            out_n.append(len(hit))
        return pd.DataFrame({"text": out_t, "n_masked_chars": out_n})

    joined = docs.join(per_doc, id_col, "left")
    masked = _mask(F.col(text_col), F.col("__positions"))
    return (
        joined.withColumn("__m", masked)
        .withColumn(text_col, F.col("__m.text"))
        .withColumn("n_masked_chars", F.coalesce(F.col("__m.n_masked_chars"), F.lit(0)))
        .drop("__positions", "__m")
    )
