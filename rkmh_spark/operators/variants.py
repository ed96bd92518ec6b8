"""Variant calling graft — rkmh ``call`` re-expressed relationally.

Reference lifecycle (/root/reference/src/rkmh.cpp:1627-1888):
  1. hash every read k-mer into a global occurrence counter
     (read_hash_to_depth, :1784);
  2. walk each reference position j, tracking a trailing window_len
     average depth (:1786-1791, ``int avg_d`` = floor of the mean, :1627);
  3. where depth < 0.5*avg_d (:1801), PERMUTE the reference k-mer — every
     single-char substitution from a 4-char rotation class (:1640-1654,
     P6) and every 1-char deletion of the (k+1)-mer at j-1 (:1846-1858) —
     and look each mutant up in the counter;
  4. call a SNP when alt_depth >= 0.1*avg_d AND alt_depth > depth
     (:1814, F7), a deletion when alt_depth > 0.9*avg_d (:1855, F7);
  5. aggregate per call site: KC=#times called, MD=max alt depth,
     RD=max windowed avg, OD=max original depth (:1824-1830, A9);
  6. emit VCF rows "CHROM POS . REF ALT 99 PASS KC=..;MD=..;RD=..;OD=.."
     in lexicographic site-key order (map<string,int>, :1884-1887, S9).

Web-text graft: "reads" = corpus pages, "reference" = designated page(s),
k-mers = character k-grams, and the ATCG rotation class becomes a 4-letter
text class (default vowels a/e/o/t — same shape: each class member has the
other three as alternates, characters outside the class produce no SNP
candidates, exactly like non-ACGT bases in the reference).

Spark shape: everything is JVM expressions (substr/posexplode/window/join/
groupBy) — no Python in the plan. The global counter becomes a k-gram
depth table (groupBy count — map-side partial agg, one shuffle); mutant
lookup becomes a left join against it. Keys are the gram TEXT so the
DuckDB oracle can check every stage; at 10^12-doc scale you'd key by
xxhash64(gram) to shrink the shuffle — identical semantics, noted per
column. Candidate rows explode only at LOW-coverage positions (the
depth < 0.5*avg_d trigger prunes first), ×(3k SNP + k del) mutants.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F

#: the graft's rotate_snps class (reference ATCG table, rkmh.cpp:1632-1654)
ROTATION_CLASS = "aeot"


def _rotation_pairs() -> list[tuple[str, str]]:
    return [
        (o, a) for o in ROTATION_CLASS for a in ROTATION_CLASS if a != o
    ]


def kmer_depth_table(
    corpus: DataFrame,
    k: int,
    text_col: str = "text",
    keys: DataFrame | None = None,
) -> DataFrame:
    """→ (kmer, depth): total occurrences of each char k-gram in the corpus.

    The relational read_hash_to_depth (rkmh.cpp:1784): counts every
    occurrence (multiplicity, not distinct docs). posexplode over the
    position sequence stays in whole-stage codegen; groupBy gets map-side
    partial aggregation from Catalyst.

    ``keys``: optional (kmer) DataFrame of the only grams whose depth the
    caller needs (e.g. reference-position or mutant k-mers — small by
    construction). Broadcast-semi-filtering the exploded stream BEFORE
    the groupBy (r6, guide-§8 "decide with small rows") drops the
    overwhelmingly-non-matching corpus grams map-side, so the count
    shuffle carries only matching rows instead of every distinct corpus
    gram. Counts for surviving keys are identical.
    """
    t = F.col(text_col)
    grams = F.transform(
        _positions(t, k),
        lambda i: F.substring(t, i, k),
    )
    exploded = corpus.select(F.explode(grams).alias("kmer"))
    if keys is not None:
        exploded = exploded.join(F.broadcast(keys), "kmer", "left_semi")
    return exploded.groupBy("kmer").agg(F.count("*").alias("depth"))


def _positions(t, k: int):
    """1-based k-gram start positions; EMPTY for short texts — Spark's
    sequence(1, 0) yields a DESCENDING [1, 0], not an empty array."""
    n = F.length(t) - (k - 1)
    return F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )


def reference_positions(
    refs: DataFrame,
    k: int,
    ref_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """→ (ref, j, kmer, d_alt): every reference k-mer position.

    j is the 0-based shingle index (the reference's inner loop variable);
    d_alt is the (k+1)-gram starting at j-1 used by the deletion pass
    (NULL at j=0, mirroring the ``j > 0`` guard at rkmh.cpp:1848).
    """
    t = F.col(text_col)
    kmers = F.transform(
        _positions(t, k),
        lambda i: F.substring(t, i, k),
    )
    out = refs.select(
        F.col(ref_col).alias("ref"),
        t.alias("__text"),
        F.posexplode(kmers).alias("j", "kmer"),
    )
    return out.select(
        "ref",
        "j",
        "kmer",
        F.when(F.col("j") > 0, F.substring("__text", F.col("j"), k + 1)).alias(
            "d_alt"
        ),
    )


def windowed_ref_depth(
    ref_pos: DataFrame, depth: DataFrame, window_len: int
) -> DataFrame:
    """Attach per-position read depth + trailing-window floor(avg) (A8).

    The reference's d_window holds the last ``window_len`` depths INCLUDING
    the current position (push, pop-if-over, rkmh.cpp:1786-1789) and
    ``int avg_d`` truncates the double mean (:1791,1627-1631) — floor for
    the non-negative depths here.
    """
    with_depth = ref_pos.join(depth, "kmer", "left").withColumn(
        "depth", F.coalesce("depth", F.lit(0))
    )
    w = (
        Window.partitionBy("ref")
        .orderBy("j")
        .rowsBetween(-(window_len - 1), 0)
    )
    return with_depth.withColumn(
        "avg_d",
        F.floor(F.sum("depth").over(w) / F.count("*").over(w)).cast("long"),
    )


def snp_candidates(triggered: DataFrame, k: int) -> DataFrame:
    """P6 SNP permutation at triggered positions: every in-class char of
    the k-mer swapped for its 3 rotation alternates (rkmh.cpp:1656-1671).
    """
    spark = triggered.sparkSession
    rot = spark.createDataFrame(_rotation_pairs(), schema="orig string, alt string")
    pos = triggered.select(
        "ref", "j", "kmer", "depth", "avg_d",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("alt_pos"),
    ).withColumn("orig", F.substring("kmer", F.col("alt_pos") + 1, 1))
    cand = pos.join(F.broadcast(rot), "orig")
    return cand.withColumn(
        "alt_kmer",
        F.concat(
            F.expr(f"substring(kmer, 1, alt_pos)"),
            F.col("alt"),
            F.expr(f"substring(kmer, alt_pos + 2, {k} - alt_pos - 1)"),
        ),
    )


def del_candidates(triggered: DataFrame, k: int) -> DataFrame:
    """P6 deletion permutation: drop char alt_pos (1..k) of the (k+1)-mer
    at j-1 (rkmh.cpp:1846-1852); only where j > 0 (d_alt non-NULL)."""
    pos = triggered.where(F.col("d_alt").isNotNull()).select(
        "ref", "j", "d_alt", "depth", "avg_d",
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias("alt_pos"),
    ).withColumn("orig", F.substring("d_alt", F.col("alt_pos") + 1, 1))
    return pos.withColumn(
        "alt_kmer",
        F.concat(
            F.expr("substring(d_alt, 1, alt_pos)"),
            F.expr(f"substring(d_alt, alt_pos + 2, {k} - alt_pos)"),
        ),
    )


def _enumerate_mutants(kmer: str, d_alt: str | None, k: int) -> list[str]:
    """Driver-side mirror of snp_candidates/del_candidates' alt_kmer
    construction for ONE reference position (pinned equivalent by
    test_variants.py::test_driver_mutant_enumeration_matches_relational):
    every in-class SNP swap of the k-mer plus every 1-char deletion of
    the (k+1)-mer at j-1."""
    out = []
    for p, orig in enumerate(kmer):
        if orig in ROTATION_CLASS:
            for alt in ROTATION_CLASS:
                if alt != orig:
                    out.append(kmer[:p] + alt + kmer[p + 1 :])
    if d_alt is not None:
        for p in range(1, k + 1):
            out.append(d_alt[:p] + d_alt[p + 1 : k + 1])
    return out


#: max ENUMERATED KEYS the driver-side needed-key path may hold; past
#: this the relational spelling builds the same set distributedly (the
#: panel is small by construction — same boundedness assumption as the
#: resident-panel broadcast, rkmh.cpp:867-870 — but guard anyway: a
#: driver collect must have a bound). The position guard is derived
#: from this via the per-position mutant fanout (3k SNP + k del + 1),
#: so the bound is on what actually lands on the driver, not on the
#: row count that generates it (review r6).
_DRIVER_ENUM_KEY_LIMIT = 2_000_000


def call_variants(
    refs: DataFrame,
    corpus: DataFrame,
    k: int = 8,
    window_len: int = 10,
    ref_col: str = "url",
    text_col: str = "text",
    depth: DataFrame | None = None,
) -> DataFrame:
    """Full rkmh-call graft → per-site aggregate (A9):

    (ref, pos, orig, alt, kc, md, rd, od) — alt='-' for deletions.
    ``depth``: pass a precomputed kmer_depth_table to share it.

    Calling it runs Spark jobs while the plan is built: the ``ref_pos``
    collect that enumerates the needed keys, and two eager checkpoints
    (the filtered depth table and the triggered positions).
    """
    ref_pos = reference_positions(refs, k, ref_col=ref_col, text_col=text_col)
    # r6 restructure (guide §8 "decide with small rows"): the only depth
    # values this job ever reads are those of the reference's own k-mers
    # (position join) and of the permuted mutants of reference positions
    # (alt lookups) — both key sets are small because the reference panel
    # is small by construction. The r5 plan materialized the depth of
    # EVERY distinct corpus k-gram (an O(corpus) shuffle + checkpoint)
    # and then broadcast that full table into the left joins — at web
    # scale that blows the 8 GB broadcast cap; locally it built a
    # multi-million-row hash relation three times. Now ONE key-filtered
    # count pass (depth=None path; the semi-join filter runs BEFORE the
    # count shuffle, so only matching gram occurrences shuffle) — or one
    # semi-join prune of the caller's shared table — yields a small
    # checkpointed relation that serves all three joins as a broadcast.
    # Left-join semantics are unchanged: dropped rows could never match,
    # and misses still coalesce to depth 0.
    # The needed key set is enumerable UP FRONT from the reference alone:
    # the reference k-mers themselves plus every SNP/deletion mutant of
    # EVERY reference position (a superset of what the triggered subset
    # will probe — extra keys are harmless, the joins match by key).
    # Count-guarded driver enumeration (the panel is small by
    # construction): collecting |positions| rows and permuting in Python
    # yields a LocalTableScan whose broadcast build is free, where the
    # relational spelling drags two candidate-generator subtrees plus a
    # distinct exchange into the semi-join's broadcast plan (measured
    # ~1 s extra per depth job at sf0.1, plus their one-time codegen).
    pos_limit = _DRIVER_ENUM_KEY_LIMIT // (3 * k + k + 1)
    pos_rows = (
        ref_pos.select("kmer", "d_alt").limit(pos_limit + 1).collect()
    )
    if len(pos_rows) <= pos_limit:
        needed_set: set[str] = set()
        for row in pos_rows:
            needed_set.add(row["kmer"])
            needed_set.update(_enumerate_mutants(row["kmer"], row["d_alt"], k))
        needed = refs.sparkSession.createDataFrame(
            pa.table({"kmer": pa.array(sorted(needed_set), pa.string())})
        )
    else:
        # relational fallback: same set, built distributedly. The dummy
        # depth/avg_d columns only satisfy the candidate generators'
        # projections; the emitted alt_kmer values don't depend on them.
        allpos = ref_pos.withColumn("depth", F.lit(0)).withColumn(
            "avg_d", F.lit(0)
        )
        needed = (
            ref_pos.select("kmer")
            .unionByName(
                snp_candidates(allpos, k).select(F.col("alt_kmer").alias("kmer"))
            )
            .unionByName(
                del_candidates(allpos, k).select(F.col("alt_kmer").alias("kmer"))
            )
            .distinct()
        )
    if depth is None:
        depth = kmer_depth_table(corpus, k, text_col=text_col, keys=needed)
    else:
        depth = depth.join(F.broadcast(needed), "kmer", "left_semi")
    # ONE small filtered table serves all three consumers (position join
    # + both mutant joins) — eager checkpoint = one corpus pass total
    depth = depth.localCheckpoint(eager=True)
    pos_depth = windowed_ref_depth(ref_pos, F.broadcast(depth), window_len)
    # F7 trigger 1: only low-coverage positions permute (rkmh.cpp:1801).
    # Materialized (localCheckpoint): both the SNP and deletion branches
    # read it — no recompute of the window/depth join, no persist leak.
    triggered = pos_depth.where(
        F.col("depth") < 0.5 * F.col("avg_d")
    ).localCheckpoint(eager=True)

    depth_alt = depth.withColumnsRenamed(
        {"kmer": "alt_kmer", "depth": "alt_depth"}
    )

    alt_depth = F.coalesce(F.col("alt_depth"), F.lit(0))
    snps = (
        snp_candidates(triggered, k)
        .join(
            F.broadcast(depth_alt),
            "alt_kmer",
            "left",
        )
        .withColumn("alt_depth", alt_depth)
        # F7 trigger 2 (rkmh.cpp:1814)
        .where(
            (F.col("alt_depth") >= 0.1 * F.col("avg_d"))
            & (F.col("alt_depth") > F.col("depth"))
        )
        .select(
            "ref",
            (F.col("j") + F.col("alt_pos") + 1).cast("long").alias("pos"),
            "orig",
            F.col("alt"),
            "alt_depth",
            "avg_d",
            "depth",
        )
    )
    dels = (
        del_candidates(triggered, k)
        .join(
            F.broadcast(depth_alt),
            "alt_kmer",
            "left",
        )
        .withColumn("alt_depth", alt_depth)
        # F7 trigger 3 (rkmh.cpp:1855)
        .where(F.col("alt_depth") > 0.9 * F.col("avg_d"))
        .select(
            "ref",
            # reference's exact position arithmetic (rkmh.cpp:1856)
            (F.col("j") + F.col("alt_pos") + 1).cast("long").alias("pos"),
            "orig",
            F.lit("-").alias("alt"),
            "alt_depth",
            "avg_d",
            "depth",
        )
    )
    calls = snps.unionByName(dels)
    # A9 call-site aggregation (rkmh.cpp:1824-1830)
    agg = calls.groupBy("ref", "pos", "orig", "alt").agg(
        F.count("*").alias("kc"),
        F.max("alt_depth").alias("md"),
        F.max("avg_d").alias("rd"),
        F.max("depth").alias("od"),
    )
    return agg


def vcf_lines(call_sites: DataFrame) -> DataFrame:
    """S9 VCF sink: one text line per site, reference column order + the
    lexicographic site-key ordering of the reference's map<string,int>
    (rkmh.cpp:1884-1887). Write with df.write.text after unioning the
    header (vcf_header)."""
    key = F.concat_ws(
        "\t",
        "ref",
        F.col("pos").cast("string"),
        F.lit("."),
        "orig",
        "alt",
    )
    line = F.concat(
        key,
        F.lit("\t99\tPASS\tKC="),
        F.col("kc").cast("string"),
        F.lit(";MD="),
        F.col("md").cast("string"),
        F.lit(";RD="),
        F.col("rd").cast("string"),
        F.lit(";OD="),
        F.col("od").cast("string"),
    )
    return call_sites.select(line.alias("line"), key.alias("__key")).orderBy(
        "__key"
    ).select("line")


def vcf_header(ref_name: str) -> list[str]:
    """The reference's VCF header block (rkmh.cpp:1736-1742)."""
    return [
        "##fileformat=VCF4.2",
        "##source=rkmh",
        f"##reference={ref_name}",
        '##INFO=<ID=KD,Number=1,Type=Integer,Description="Number of times call for specific kmer appears">',
        '##INFO=<ID=MD,Number=1,Type=Integer,Description="Maximum depth found for the rescue kmer.">',
        '##INFO=<ID=RD,Number=1,Type=Integer,Description="Average depth in region">',
        '##INFO=<ID=OD,Number=1,Type=Integer,Description="Depth of original kmer at site before modification.">',
    ]
