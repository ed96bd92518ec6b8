"""Variant-calling graft semantics (P6/A9/F7/S9) pinned to the reference
loop (/root/reference/src/rkmh.cpp:1627-1888) on a hand-computable fixture.

The fixture is built so every stage is checkable by hand:
corpus = many copies of the reference text with ONE substituted char →
the substituted region's original k-mers have depth 0 (trigger fires),
the mutant k-mers have high depth (rescue fires), and the expected call
site/orig/alt/KC are known exactly.
"""

from pyspark.sql import functions as F

from rkmh_spark.operators.variants import (
    call_variants,
    kmer_depth_table,
    vcf_header,
    vcf_lines,
    windowed_ref_depth,
    reference_positions,
)

K = 4
REF_TEXT = "xxtoxxxtoxxxtoxxxtoxx"  # 'o'→'a' SNP will be planted mid-text


def _df(spark, rows, schema="url string, text string"):
    return spark.createDataFrame(rows, schema)


def test_depth_table_counts_occurrences(spark):
    corpus = _df(spark, [("c1", "abcabc"), ("c2", "abca")], "url string, text string")
    d = {r["kmer"]: r["depth"] for r in kmer_depth_table(corpus, 3).collect()}
    # "abc" occurs at abcabc[0], abcabc[3], abca[0] → 3 (multiplicity!)
    assert d["abc"] == 3
    assert d["bca"] == 2
    assert d["cab"] == 1


def test_windowed_avg_is_floor_of_trailing_mean(spark):
    # depths along the ref: engineered by a corpus holding each ref 4-mer
    # a known number of times; window=2 → avg_d[j] = floor((d[j-1]+d[j])/2)
    refs = _df(spark, [("r", "aaaabbbb")])
    corpus = _df(spark, [("c", "aaaa aaaa bbbb")])  # depth aaaa=2, bbbb=1
    rp = reference_positions(refs, 4)
    out = windowed_ref_depth(rp, kmer_depth_table(corpus, 4), window_len=2)
    rows = {r["j"]: (r["depth"], r["avg_d"]) for r in out.collect()}
    assert rows[0] == (2, 2)          # window [2]
    assert rows[1][0] == 0            # "aaab" depth 0
    assert rows[1][1] == 1            # floor((2+0)/2)
    assert rows[4] == (1, 0)          # "bbbb"=1, window [0,1] → floor(0.5)=0


def test_planted_snp_is_called(spark):
    # reference "....toto....", corpus = 30 copies with 'o'→'a' at one site
    ref_text = "qqqwwtotoqqqww"
    mut_text = ref_text.replace("toto", "tato")  # o→a at 0-based pos 6
    refs = _df(spark, [("ref0", ref_text)])
    corpus = _df(spark, [(f"c{i}", mut_text) for i in range(30)])
    calls = call_variants(refs, corpus, k=K, window_len=4).collect()
    sites = {(r["ref"], r["pos"], r["orig"], r["alt"]) for r in calls}
    # 0-based char position 6 ('o' in toto) → 1-based 7
    assert ("ref0", 7, "o", "a") in sites
    by_site = {
        (r["pos"], r["orig"], r["alt"]): r for r in calls
    }
    r = by_site[(7, "o", "a")]
    assert r["kc"] >= 1 and r["md"] == 30  # mutant 4-mer in all 30 copies
    # no call invents a substitution that isn't in the corpus
    for row in calls:
        assert row["md"] > 0


def test_no_calls_when_corpus_matches_reference(spark):
    refs = _df(spark, [("ref0", "qqqwwtotoqqqww")])
    corpus = _df(spark, [(f"c{i}", "qqqwwtotoqqqww") for i in range(10)])
    calls = call_variants(refs, corpus, k=K, window_len=4)
    assert calls.count() == 0  # full coverage everywhere → trigger never fires


def test_vcf_lines_format_and_order(spark):
    ref_text = "qqqwwtotoqqqww"
    mut_text = ref_text.replace("toto", "tato")
    refs = _df(spark, [("ref0", ref_text)])
    corpus = _df(spark, [(f"c{i}", mut_text) for i in range(30)])
    sites = call_variants(refs, corpus, k=K, window_len=4)
    lines = [r["line"] for r in vcf_lines(sites).collect()]
    assert lines == sorted(lines)  # map<string,int> lexicographic order
    assert any(l.startswith("ref0\t7\t.\to\ta\t99\tPASS\tKC=") for l in lines)
    for l in lines:
        fields = l.split("\t")
        assert len(fields) == 8
        assert fields[6] == "PASS" and fields[5] == "99"
        assert fields[7].startswith("KC=") and ";MD=" in fields[7]
    hdr = vcf_header("ref0")
    assert hdr[0] == "##fileformat=VCF4.2" and len(hdr) == 7


def test_driver_mutant_enumeration_matches_relational(spark):
    """The r6 driver-side needed-key enumeration must reproduce exactly
    the alt_kmer set the relational snp/del candidate generators emit
    over the same positions (superset-by-construction would also be
    safe; equality is what holds and what this pins)."""
    from pyspark.sql import functions as F

    from rkmh_spark.operators.variants import (
        _enumerate_mutants,
        del_candidates,
        reference_positions,
        snp_candidates,
    )

    refs = _df(spark, [("ref0", "qqqwwtotoqqqwwea"), ("ref1", "aeotaeotq")])
    ref_pos = reference_positions(refs, K)
    allpos = ref_pos.withColumn("depth", F.lit(0)).withColumn("avg_d", F.lit(0))
    relational = {
        r["alt_kmer"]
        for r in snp_candidates(allpos, K).select("alt_kmer").collect()
    } | {
        r["alt_kmer"]
        for r in del_candidates(allpos, K).select("alt_kmer").collect()
    }
    driver = set()
    for row in ref_pos.select("kmer", "d_alt").collect():
        driver.update(_enumerate_mutants(row["kmer"], row["d_alt"], K))
    assert driver == relational


def test_relational_key_fallback_matches_driver_path(spark, monkeypatch):
    """A reference with more than ``_DRIVER_ENUM_KEY_LIMIT // (4k+1)``
    positions builds its needed-key set in Spark instead of on the
    driver. Lowering the limit sends the planted-SNP fixture down that
    branch; its calls must equal the driver path's row for row."""
    import rkmh_spark.operators.variants as variants

    ref_text = "qqqwwtotoqqqww"
    refs = _df(spark, [("ref0", ref_text)])
    corpus = _df(
        spark, [(f"c{i}", ref_text.replace("toto", "tato")) for i in range(30)]
    )
    driver = sorted(
        map(tuple, call_variants(refs, corpus, k=K, window_len=4).collect())
    )
    assert ("ref0", 7, "o", "a") in {r[:4] for r in driver}

    snp_calls: list[int] = []
    real_snp = variants.snp_candidates

    def counted_snp(*a, **kw):
        snp_calls.append(1)
        return real_snp(*a, **kw)

    monkeypatch.setattr(variants, "snp_candidates", counted_snp)
    monkeypatch.setattr(variants, "_DRIVER_ENUM_KEY_LIMIT", 4 * K + 1)
    relational = sorted(
        map(tuple, call_variants(refs, corpus, k=K, window_len=4).collect())
    )
    # the fallback calls the SNP generator for the key set as well as for
    # the triggered positions; the driver path calls it once
    assert len(snp_calls) == 2
    assert relational == driver
