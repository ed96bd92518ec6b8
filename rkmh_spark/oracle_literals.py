"""NumPy-derived VALUES-literal oracles for the driver's DuckDB gate.

DuckDB cannot express murmur3/OPH/winnowing in SQL, so the queries whose
OUTPUT depends on hash values get their oracle as literal rows computed by
the single-node NumPy reference loop (rkmh_spark.oracle — the same oracle
the recall gates in pytest trust), read straight from the sf0.01 parquet
via DuckDB. No Spark anywhere in the derivation: parquet → numpy → SQL
literals. This is the VERDICT r1 #2 move ("register the NumPy kernels as
the oracle") spelled as literals because the driver only accepts SQL
strings, not a Python-UDF-registered connection.

Independence (r3 closes the r2 caveat): the murmur3/OPH kernels here are
the same NumPy functions the Spark UDFs call, so this file alone proves
end-to-end DISTRIBUTED == SINGLE-NODE. Each kernel now ALSO has an
independent second derivation: murmur3 is pinned against the public
SMHasher vectors (tests/test_murmur3.py), SimHash against a pure-Python
XXH64 (functions/xxhash.py), and the bottom-s + OPH + optimal-
densification pipeline against a clean-room scalar pure-int
implementation (tests/test_oracle_parity.py::test_cleanroom_*).

Everything here is DETERMINISTIC: seeded hashing, seeded banding — the
LSH candidate set is a fixed function of the data, so the literal rows
are constants, not samples of a probabilistic pass.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from rkmh_spark.config import TEST_CONFIG, DedupConfig

_SF_DIR = "/root/testdata/sf0.01"  # the driver's correctness scale


@lru_cache(maxsize=None)
def _documents() -> tuple[tuple[int, str, str], ...]:
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, text, lang FROM read_parquet('{_SF_DIR}/documents.parquet')"
        " ORDER BY doc_id"
    ).fetchall()
    con.close()
    return tuple(rows)


@lru_cache(maxsize=None)
def _documents_src() -> tuple[tuple[int, str, str, str], ...]:
    """(doc_id, text, lang, source) — the subgroup tier needs source."""
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        "SELECT doc_id, text, lang, source FROM "
        f"read_parquet('{_SF_DIR}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    con.close()
    return tuple(rows)


def _urls_texts() -> tuple[list[str], list[str]]:
    docs = _documents()
    return [f"doc://{d}" for d, _, _ in docs], [t for _, t, _ in docs]


@lru_cache(maxsize=None)
def _pipeline(cfg: DedupConfig = TEST_CONFIG):
    """Run the NumPy reference pipeline once: sketches, OPH minhashes,
    LSH-band candidate pairs, exhaustively-verified pairs, min-url-string
    component labels."""
    from rkmh_spark.functions.shingles import (
        oph_minhash,
        shingle_hashes,
    )
    from rkmh_spark.oracle import oracle_pairs

    urls, texts = _urls_texts()
    n = len(urls)
    hashes = [
        np.sort(shingle_hashes(t, cfg.k, cfg.hash_seed)) for t in texts
    ]
    hashes = [h[h != 0] for h in hashes]
    sketches = [h[: cfg.sketch_size].view(np.int64) for h in hashes]
    minhashes = [oph_minhash(h, cfg.num_perms) for h in hashes]

    # banding: docs sharing any (band_id, band row-tuple) are candidates —
    # the numpy replication of lsh.band_buckets + candidate_pairs (the
    # salted triangle join emits the same pair set, only sharded)
    buckets: dict = {}
    r = cfg.band_rows
    for i in range(n):
        mh = minhashes[i]
        if mh.size == 0:
            continue
        for b in range(cfg.num_bands):
            key = (b, mh[b * r : (b + 1) * r].tobytes())
            buckets.setdefault(key, []).append(i)
    cands: set = set()
    for members in buckets.values():
        if len(members) < 2:
            continue
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                cands.add((members[x], members[y]))

    # exhaustive acceptance (the reference loop) for recall accounting
    exhaustive = oracle_pairs(texts, cfg, sketches=sketches)
    # verified LSH pairs = exhaustive ∩ candidates (verify is exact)
    lsh_pairs = exhaustive & {tuple(sorted(p)) for p in cands}

    # min-url-STRING component labels (Spark's min-label rule is on urls)
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in lsh_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    for i in range(n):
        comp.setdefault(find(i), []).append(i)
    label = {}
    for members in comp.values():
        lbl = min(urls[m] for m in members)
        for m in members:
            label[m] = lbl
    return {
        "urls": urls,
        "texts": texts,
        "sketches": sketches,
        "minhashes": minhashes,
        "candidates": cands,
        "labels": label,
    }


def _values_sql(rows: list[tuple], cols: list[tuple[str, str]]) -> str:
    """rows + [(name, duck_type)] → a typed VALUES SELECT."""

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    body = ",".join("(" + ",".join(lit(v) for v in r) + ")" for r in rows)
    names = ",".join(f"col{i}" for i in range(len(cols)))
    sel = ",".join(
        f"CAST(col{i} AS {t}) AS {name}" for i, (name, t) in enumerate(cols)
    )
    # sf-staleness guard (ADVICE r2): these literals are derived from
    # _SF_DIR; if the driver registers views at a DIFFERENT scale the
    # compare must fail LOUDLY, not hash-mismatch mysteriously. The WHERE
    # subquery forces evaluation (a projected-away CTE gets pruned).
    n_docs = len(_documents())
    guard = (
        "(SELECT CASE WHEN count(*) = {n} THEN TRUE ELSE error("
        "'literal oracle derived from {d} ({n} documents); the documents "
        "view has a different row count — driver sf changed') END "
        "FROM documents)"
    ).format(n=n_docs, d=_SF_DIR)
    return f"SELECT {sel} FROM (VALUES {body}) t({names}) WHERE {guard}"


def dedup_assignments_sql() -> str:
    p = _pipeline()
    rows = [(u, p["labels"][i]) for i, u in enumerate(p["urls"])]
    return _values_sql(rows, [("url", "VARCHAR"), ("cluster_id", "VARCHAR")])


def cluster_representatives_sql() -> str:
    docs = _documents()
    p = _pipeline()
    rows = [
        (u, docs[i][2])
        for i, u in enumerate(p["urls"])
        if p["labels"][i] == u
    ]
    return _values_sql(rows, [("url", "VARCHAR"), ("lang", "VARCHAR")])


def cluster_rep_sketches_sql() -> str:
    """merged representative sketch per cluster: s unsigned-smallest
    DISTINCT hashes over member sketches → (cluster_id, sketch_len)."""
    p = _pipeline()
    members: dict[str, list[int]] = {}
    for i in range(len(p["urls"])):
        members.setdefault(p["labels"][i], []).append(i)
    rows = []
    for cid, idxs in members.items():
        merged = np.unique(
            np.concatenate([p["sketches"][i].view(np.uint64) for i in idxs])
        )
        rows.append((cid, int(min(TEST_CONFIG.sketch_size, merged.size))))
    return _values_sql(rows, [("cluster_id", "VARCHAR"), ("sketch_len", "BIGINT")])


def containment_sketch_sql(threshold: float = 0.9) -> str:
    """Broder threshold-restricted containment estimate on the LSH
    candidate pairs — same math as operators/containment._containment_est."""
    p = _pipeline()
    rows = []
    for a, b in sorted(p["candidates"]):
        # Spark's candidate_pairs orients by URL STRING (url_a < url_b
        # lexicographically), not by doc index
        if p["urls"][a] > p["urls"][b]:
            a, b = b, a
        xa = p["sketches"][a].view(np.uint64)
        xb = p["sketches"][b].view(np.uint64)
        if xa.size == 0 or xb.size == 0:
            continue
        best = 0.0
        for small, big in ((xb, xa), (xa, xb)):
            thr = big[-1]
            restricted = small[small <= thr]
            if restricted.size:
                hits = np.isin(restricted, big).sum()
                best = max(best, hits / restricted.size)
        best = round(best, 6)
        if best >= threshold:
            rows.append((p["urls"][a], p["urls"][b], float(best)))
    return _values_sql(
        rows,
        [("url_a", "VARCHAR"), ("url_b", "VARCHAR"), ("containment", "DOUBLE")],
    )


@lru_cache(maxsize=None)
def _simhashes() -> tuple[tuple[int, int], ...]:
    """(doc_id, simhash) per doc via the INDEPENDENT pure-Python XXH64
    (functions/xxhash.py) + per-bit vote — no Spark, no shared murmur."""
    from rkmh_spark.functions.xxhash import xxh64

    hcache: dict[str, int] = {}
    out = []
    for doc_id, text, _ in _documents():
        votes = [0] * 64
        for t in set((text or "").split(" ")):
            if t == "":
                continue
            h = hcache.get(t)
            if h is None:
                h = xxh64(t.encode("utf-8"), seed=42) & 0xFFFFFFFFFFFFFFFF
                hcache[t] = h
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
        sim = 0
        for b in range(64):
            if votes[b] > 0:
                sim |= 1 << b
        out.append((doc_id, sim - (1 << 64) if sim >= 1 << 63 else sim))
    return tuple(out)


def simhash_signatures_sql() -> str:
    return _values_sql(
        list(_simhashes()), [("doc_id", "BIGINT"), ("simhash", "BIGINT")]
    )


def simhash_bands_sql() -> str:
    """Band the independently-derived simhashes (4 × 16-bit quarters) and
    emit every intra-bucket pair — the salted triangle join produces the
    same pair set, only sharded, so this is exact."""
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, sim in _simhashes():
        u = sim & 0xFFFFFFFFFFFFFFFF
        for band in range(4):
            key = (u >> (16 * band)) & 0xFFFF
            buckets.setdefault((band, key), []).append(doc_id)
    pairs = set()
    for members in buckets.values():
        if len(members) < 2:
            continue
        members = sorted(members)
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))
    return _values_sql(
        sorted(pairs), [("doc_a", "BIGINT"), ("doc_b", "BIGINT")]
    )


def simhash_dup_pairs_sql(max_hamming: int = 3) -> str:
    """Brute-force ALL-pairs Hamming filter over the independently-derived
    simhashes — deliberately stronger than a band replay: it verifies the
    banding's pigeonhole recall guarantee (every ≤3-bit pair collides on
    ≥1 of the 4 disjoint 16-bit bands) AND the bit_count(xor) verify
    filter, with no shared structure with the Spark plan."""
    sims = list(_simhashes())
    rows = []
    for i in range(len(sims)):
        da, sa = sims[i]
        for j in range(i + 1, len(sims)):
            db, sb = sims[j]
            h = bin((sa ^ sb) & 0xFFFFFFFFFFFFFFFF).count("1")
            if h <= max_hamming:
                a, b = (da, db) if da < db else (db, da)
                rows.append((a, b, h))
    return _values_sql(
        sorted(rows),
        [("doc_a", "BIGINT"), ("doc_b", "BIGINT"), ("hamming", "INTEGER")],
    )


def two_tier_classify_sql(cfg: DedupConfig = TEST_CONFIG) -> str:
    """Replay of operators/two_tier.two_tier_classify on the deterministic
    panel/query split (panel: doc_id%5==0; queries: doc_id%10==1):
    tier-1 sketch argmax via the NumPy reference loop, tier-2
    discriminative tables in substring space (hash<->k-gram 1:1), plus the
    reference's FULL ranked per-tier lists (rkmh.cpp:2682-2715) over both
    granularities (lang = lineage analog, lang-source = sublineage)."""
    from rkmh_spark.functions.shingles import multiset_intersection_size
    from rkmh_spark.oracle import oracle_sketches

    docs = _documents_src()
    panel = [(d, t, g, f"{g}-{s}") for d, t, g, s in docs if d % 5 == 0]
    queries = [(d, t) for d, t, _, _ in docs if d % 10 == 1]
    k = cfg.k if isinstance(cfg.k, int) else None
    assert k is not None

    def grams(t: str) -> list[str]:
        return [t[i : i + k] for i in range(max(len(t) - k + 1, 0))]

    def unique_tables(tier_idx: int) -> tuple[dict, list[str]]:
        """Substrings unique to exactly one group at the given tier
        (2 = lang, 3 = lang-source) + the full panel group list."""
        group_sets: dict[str, set] = {}
        for row in panel:
            group_sets.setdefault(row[tier_idx], set()).update(grams(row[1]))
        seen_in: dict[str, set] = {}
        for g, s in group_sets.items():
            for x in s:
                seen_in.setdefault(x, set()).add(g)
        uniq = {x: next(iter(gs)) for x, gs in seen_in.items() if len(gs) == 1}
        return uniq, sorted(group_sets)

    uniq_g, groups_g = unique_tables(2)
    uniq_s, groups_s = unique_tables(3)

    def ranked(t: str, uniq: dict, groups: list[str]) -> tuple[str, str, dict]:
        hits = {g: 0 for g in groups}
        for x in grams(t):
            g = uniq.get(x)
            if g is not None:
                hits[g] += 1
        n = len(grams(t))
        order = sorted(hits.items(), key=lambda kv: (-kv[1], kv[0]))
        ranked_str = "".join(f"{g}:{h}/{n};" for g, h in order)
        hits_str = "".join(f"{h};" for _, h in order)
        return ranked_str, hits_str, hits

    p_sk = oracle_sketches([t for _, t, _, _ in panel], cfg)
    q_sk = oracle_sketches([t for _, t in queries], cfg)
    p_urls = [f"doc://{d}" for d, _, _, _ in panel]

    rows = []
    for (d, t), qs in zip(queries, q_sk):
        scored = sorted(
            (
                (-multiset_intersection_size(qs, ps), u)
                for ps, u in zip(p_sk, p_urls)
            ),
        )
        shared = -scored[0][0]
        best_ref = scored[0][1]
        second = -scored[1][0] if len(scored) > 1 else 0
        g_ranked, g_hits_str, g_hits = ranked(t, uniq_g, groups_g)
        s_ranked, s_hits_str, _ = ranked(t, uniq_s, groups_s)
        nonzero = {g: h for g, h in g_hits.items() if h > 0}
        if nonzero:
            best_group, group_hits = sorted(
                nonzero.items(), key=lambda kv: (-kv[1], kv[0])
            )[0]
        else:
            best_group, group_hits = None, 0
        rows.append(
            (
                f"doc://{d}",
                best_ref,
                int(shared),
                len(qs) <= cfg.min_matches,          # fail_depth
                shared < cfg.min_matches,             # fail_matches
                (shared - second) <= cfg.min_diff,    # fail_diff
                best_group,
                int(group_hits),
                len(grams(t)),                        # n_hashes (1:1 gram↔hash)
                g_ranked,
                g_hits_str,
                s_ranked,
                s_hits_str,
            )
        )
    return _values_sql(
        rows,
        [
            ("url", "VARCHAR"),
            ("best_ref", "VARCHAR"),
            ("shared", "BIGINT"),
            ("fail_depth", "BOOLEAN"),
            ("fail_matches", "BOOLEAN"),
            ("fail_diff", "BOOLEAN"),
            ("best_group", "VARCHAR"),
            ("group_hits", "BIGINT"),
            ("n_hashes", "BIGINT"),
            ("group_ranked", "VARCHAR"),
            ("group_ranked_hits", "VARCHAR"),
            ("subgroup_ranked", "VARCHAR"),
            ("subgroup_ranked_hits", "VARCHAR"),
        ],
    )


@lru_cache(maxsize=None)
def bpe_merges(n_merges: int = 200) -> tuple:
    """Merge table trained on the pinned doc_id < 50 slice of sf0.01 —
    the offline-trained-vocab posture; both the Spark query and the
    oracle consume this same deterministic table."""
    from rkmh_spark.functions.bpe import train_bpe

    texts = [t for d, t, _ in _documents() if d < 50]
    return tuple(train_bpe(texts, n_merges=n_merges))


def bpe_real_token_counts_sql() -> str:
    from rkmh_spark.functions.bpe import encode_text

    ranks = {tuple(p): i for i, p in enumerate(bpe_merges())}
    cache: dict = {}
    rows = [
        (d, len(encode_text(t, ranks, cache))) for d, t, _ in _documents()
    ]
    return _values_sql(rows, [("doc_id", "BIGINT"), ("n_bpe_tokens", "BIGINT")])


def winnow_fingerprints_sql(k: int = 8, w: int = 4, seed: int = 42) -> str:
    from rkmh_spark.functions.fingerprint import winnow
    from rkmh_spark.functions.shingles import shingle_hashes

    urls, texts = _urls_texts()
    rows = [
        (u, int(winnow(shingle_hashes(t, k, seed), w).size))
        for u, t in zip(urls, texts)
    ]
    return _values_sql(rows, [("url", "VARCHAR"), ("n_fp", "BIGINT")])
