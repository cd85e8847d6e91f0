"""Parameter governance: the sketch constants (MinHash K/B/R, LSH
bands/rows/weights) are correctness-affecting SHARED constants — the
DuckDB oracles must be regenerated from the very same values, or a retune
silently desynchronizes engine and oracle. These tests pin that the
generated SQL embeds the live constants (they do by construction —
f-strings over the module constants — but a refactor that hardcodes a
literal would pass check_oracles until the next retune, then fail the
driver gate)."""

from __future__ import annotations

import re


def test_minhash_oracle_regenerated_from_constants():
    from ocr_award_extractor_spark.operators import dedup as d

    # every permutation's (a, b) coefficient pair appears in the signature SQL
    for j in range(d.MH_K):
        assert f"min(({d._MH_A[j]} * v + {d._MH_B_[j]}) % {d.MH_P}) AS s{j}" \
            in d._SIG_SQL
    # the band condition ORs exactly MH_B bands of MH_R equalities each
    bands = d._BAND_COND.split(" OR ")
    assert len(bands) == d.MH_B
    assert all(b.count(" AND ") == d.MH_R - 1 for b in bands)
    # shingle width appears in the CTE (so an SH_N retune flows through)
    assert f">= {d.SH_N}" in d._SHINGLE_CTE


def test_lsh_oracle_planes_are_the_live_weights():
    from ocr_award_extractor_spark.operators import similarity as s

    sql = s._planes_values_sql()
    tuples = re.findall(r"\((\d+), (\d+), (\[[^\]]*\])\)", sql)
    assert len(tuples) == s.LSH_BANDS * s.LSH_ROWS
    for band_s, idx_s, w_s in tuples:
        b, r = int(band_s), int(idx_s)
        assert w_s == str(s.LSH_WEIGHTS[b * s.LSH_ROWS + r])
    # the pair CTE (shared by lsh_neardup_pairs AND the clusters oracle)
    # actually embeds those planes and the live threshold
    assert sql in s._LSH_PAIR_CTE
    assert str(s.NEARDUP_THRESHOLD) in s._LSH_PAIR_CTE


def test_lsh_pinned_constants_match_gate_scale_formula():
    """The static oracle SQL can only ever be compared at the driver's
    sf0.01 gate (n=500 embeddings). The pinned module constants MUST equal
    lsh_params(500), or the auto-derived Spark side and the static oracle
    side diverge exactly where it is graded."""
    from ocr_award_extractor_spark.operators import similarity as s

    assert (s.LSH_BANDS, s.LSH_ROWS) == s.lsh_params(500)


def test_corpus_lsh_params_reads_directory_tables(tmp_path):
    """A Spark-written table is a DIRECTORY of part files: the LSH sizing
    must count its rows (sf0.1: n=2000 ⇒ lsh_params(2000)), not fall back
    to the sf0.01 gate constants."""
    import os

    import pyarrow.parquet as pq

    from ocr_award_extractor_spark.operators import similarity as s

    tbl = pq.read_table("/root/testdata/sf0.1/embeddings.parquet")
    out = tmp_path / "embeddings.parquet"
    out.mkdir()
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), os.path.join(out, "part-0.parquet"))
    pq.write_table(tbl.slice(half), os.path.join(out, "part-1.parquet"))
    (out / "_SUCCESS").touch()
    assert s._corpus_lsh_params(str(tmp_path)) == s.lsh_params(2000)
    assert s.lsh_params(2000) != (s.LSH_BANDS, s.LSH_ROWS)


def test_lsh_params_growth_keeps_buckets_constant():
    """rows ≈ log2(n/m): per-band bucket count 2^R grows linearly with n
    (constant expected bucket size m), which is the sublinear-candidates
    property; bands grow slowly to hold recall."""
    from ocr_award_extractor_spark.operators.similarity import (
        LSH_DESIGN_P, LSH_TARGET_RECALL, lsh_params,
    )

    prev_rows = 0
    for n in (500, 2_000, 2_000_000, 10**9):
        bands, rows = lsh_params(n)
        assert rows >= prev_rows
        prev_rows = rows
        # bucket size stays within 2x of the target
        assert n / (2 ** rows) <= 2 * 16
        # the banded OR actually meets the recall target at the design p
        recall = 1 - (1 - LSH_DESIGN_P ** rows) ** bands
        assert recall >= LSH_TARGET_RECALL - 1e-9


def test_injection_sql_matches_python_kernel():
    """The CJK award injection exists in two spellings: the Python prefix
    webify actually prepends, and the DuckDB fragments the oracles expect.
    Evaluate BOTH over a doc_id range and require (a) identical injected
    text and (b) SQL expected fields == what the real extraction kernel
    returns on the injected lines."""
    import duckdb

    from ocr_award_extractor_spark.functions.extract import extract_fields
    from ocr_award_extractor_spark.operators.webify import (
        injected_text, injection_oracle_sql, text_to_lines,
    )

    base = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
            "eiusmod tempor incididunt ut labore")
    inj = injection_oracle_sql()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS "
        f"SELECT unnest(range(0, 240)) AS doc_id, '{base}' AS text"
    )
    rows = con.sql(f"""
        SELECT doc_id, {inj['text_with_prefix']} AS t,
               {inj['competition_name']} AS c, {inj['award_level']} AS a,
               {inj['project_name']} AS p, {inj['winners']} AS w,
               {inj['teachers']} AS te
        FROM documents ORDER BY doc_id
    """).fetchall()
    n_injected = 0
    for doc_id, t, c, a, p, w, te in rows:
        assert t == injected_text(doc_id, base)
        f = extract_fields(text_to_lines(t))
        assert c == f["competition_name"]
        assert a == f["award_level"]
        assert p == f["project_name"]
        assert w == "|".join(f["winner"])
        assert te == "|".join(f["teacher"])
        if c:
            n_injected += 1
    assert n_injected == 24   # 10% of 240


def test_lcg_weights_are_stable_and_uncorrelated():
    """The weight stream is pinned (any change invalidates every persisted
    bucket assignment) and plane-pair sign agreement on random-ish inputs
    sits near 1/2 (the independence the candidate-count math assumes —
    the round-1 affine formula failed exactly this)."""
    from ocr_award_extractor_spark.operators.similarity import (
        DIM, LSH_WEIGHTS, _lcg_weights,
    )

    assert LSH_WEIGHTS[0][:4] == [-75, 8, -417, 399]
    assert _lcg_weights(2)[1] == LSH_WEIGHTS[1]
    assert all(len(r) == DIM and all(-1000 <= v <= 1000 for v in r)
               for r in LSH_WEIGHTS)
    # deterministic pseudo-input battery: sign agreement between the first
    # plane pairs stays in a loose band around 0.5
    probes = []
    s = 12345
    for _ in range(400):
        row = []
        for _ in range(DIM):
            s = (s * 1103515245 + 12345) % (1 << 31)
            row.append((s >> 8) % 2001 - 1000)
        probes.append(row)

    def sign(w, x):
        return sum(a * b for a, b in zip(w, x)) > 0

    for p in range(3):
        agree = sum(
            sign(LSH_WEIGHTS[p], x) == sign(LSH_WEIGHTS[p + 1], x)
            for x in probes
        ) / len(probes)
        assert 0.35 < agree < 0.65, f"planes {p},{p+1} correlated: {agree}"
