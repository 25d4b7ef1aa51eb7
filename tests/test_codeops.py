"""Code-corpus operators: winnowing fingerprints (vs a pure-Python
reference), clone pairs, repo rollups, identifier profiling."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from rdfshape_api_spark.functions.codeops import (
    identifier_top,
    repo_stats,
    winnow_fingerprint_sets,
    winnow_fingerprints,
    winnow_near_dup_pairs,
)


def _h64_py(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _winnow_py(content: str, k: int = 8, w: int = 4) -> set[int]:
    """Pure-Python reference of winnow_fingerprint_sets (same tie rule:
    plain min per window, distinct)."""
    if len(content) >= k:
        hs = [_h64_py(content[i : i + k]) for i in range(len(content) - k + 1)]
    else:
        hs = [_h64_py(content)]
    if len(hs) >= w:
        return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}
    return {min(hs)}


CONTENTS = [
    ("r1", "a.py", "def add(a, b):\n    return a + b\n"),
    ("r1", "b.py", "def add(a, b):\n    return a + b  # same logic\n"),
    ("r1", "c.py", "class Totally(Different): pass"),
    ("r2", "a.py", "def add(a, b):\n    return a + b\n"),  # cross-repo clone
    ("r2", "tiny", "xy"),  # shorter than k
    ("r2", "small", "abcdefghij"),  # >= k but < w k-grams? 10-8+1=3 < 4
]


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (repo, path, f"c{i}", "python", content)
        for i, (repo, path, content) in enumerate(CONTENTS)
    ]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ).withColumn("content_sha256", F.sha2("content", 256))


def test_winnow_matches_python_reference(docs):
    got = {
        (r.repo, r.path): set(r.fingerprints)
        for r in winnow_fingerprint_sets(docs).collect()
    }
    for repo, path, content in CONTENTS:
        assert got[(repo, path)] == _winnow_py(content), (repo, path)


def test_winnow_shared_substring_guarantee(docs):
    """Any shared substring of length >= k + w - 1 yields >= 1 shared
    fingerprint (the winnowing theorem, Schleimer et al. §2)."""
    k, w = 8, 4
    a = _winnow_py(CONTENTS[0][2], k, w)
    b = _winnow_py(CONTENTS[1][2], k, w)
    # both start with the same 30+ chars >> k + w - 1 = 11
    assert a & b


def test_winnow_explode_rows_match_sets(docs):
    sets = winnow_fingerprint_sets(docs)
    total = sets.agg(F.sum("n_fp")).first()[0]
    assert winnow_fingerprints(docs).count() == total


def test_winnow_short_content_single_fingerprint(docs):
    got = {
        (r.repo, r.path): r.fingerprints
        for r in winnow_fingerprint_sets(docs).collect()
    }
    assert got[("r2", "tiny")] == [_h64_py("xy")]
    # 3 k-grams < w=4 windows -> single min fingerprint
    assert len(got[("r2", "small")]) == 1


def test_clone_pairs_within_repo_scope(docs):
    pairs = winnow_near_dup_pairs(docs, threshold=0.3, within_repo=True).collect()
    got = {(p.file_a, p.file_b) for p in pairs}
    # the two r1 add() variants are clones; the r2 copy must NOT pair
    # cross-repo in within_repo mode
    assert ("r1:a.py", "r1:b.py") in got
    assert all(a.split(":")[0] == b.split(":")[0] for a, b in got)
    for p in pairs:
        assert 0.3 <= p.jaccard <= 1.0


def test_clone_pairs_cross_repo_and_max_df(docs):
    pairs = winnow_near_dup_pairs(docs, threshold=0.9)
    got = {(p.file_a, p.file_b, p.jaccard) for p in pairs.collect()}
    # identical files -> jaccard 1.0 across repos
    assert ("r1:a.py", "r2:a.py", 1.0) in got
    # max_df=1 drops every shared fingerprint from the join side -> no pairs
    assert winnow_near_dup_pairs(docs, threshold=0.1, max_df=1).count() == 0


def test_clone_pairs_within_repo_max_df_counts_corpus_wide(spark):
    """With ``within_repo`` the join is scoped to a repo, but ``max_df``
    still counts files per fingerprint over the whole corpus: a
    fingerprint in 2 files of each of 2 repos (df 4) is hot at
    ``max_df=3`` even though each repo block holds only 2 files."""
    body = "def add(a, b):\n    return a + b\n"
    docs = spark.createDataFrame(
        [(r, p, "c", "python", body) for r in ("r1", "r2") for p in ("a.py", "b.py")],
        "repo string, path string, commit string, lang string, content string",
    )
    assert {
        (r.file_a, r.file_b)
        for r in winnow_near_dup_pairs(docs, within_repo=True, max_df=4).collect()
    } == {("r1:a.py", "r1:b.py"), ("r2:a.py", "r2:b.py")}
    assert winnow_near_dup_pairs(docs, within_repo=True, max_df=3).count() == 0


def test_repo_stats(docs):
    got = {r.repo: r for r in repo_stats(docs).collect()}
    assert got["r1"].n_files == 3
    assert got["r2"].n_files == 3
    assert got["r1"].n_commits == 3
    assert got["r1"].n_langs == 1
    # r1:a.py and r2:a.py share content -> distinct_contents still 3 per repo
    assert got["r2"].distinct_contents == 3
    assert got["r1"].total_bytes == sum(
        len(c) for r, _, c in CONTENTS if r == "r1"
    )


def test_identifier_top_rank_and_ties(docs):
    rows = identifier_top(docs, top=3).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append((r.rank, r.identifier, r.n))
    ranks = [x[0] for x in sorted(by_lang["python"])]
    assert ranks == list(range(1, len(ranks) + 1))
    # 'add' and 'return' both appear 3x; 'add' wins the tie lexicographically
    top = sorted(by_lang["python"])[0]
    assert top[1] == "add" and top[2] == 3


def test_winnow_plan_no_inferred_filter_blowup(docs):
    """The explode must stay an outer Generate: a plain explode gets an
    InferFiltersFromGenerate size()>0 filter whose pushdown inlines the
    nested winnow transform per-row (O(len^2) md5) — the regression this
    guards against."""
    plan = winnow_fingerprints(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" not in plan, plan


def test_winnow_lsh_finds_identical_and_near_dups(docs):
    from rdfshape_api_spark.functions.codeops import winnow_lsh_pairs

    got = {
        (p.file_a, p.file_b) for p in winnow_lsh_pairs(docs).collect()
    }
    # identical files collide in every band
    assert ("r1:a.py", "r2:a.py") in got
    # the near-identical r1 pair shares most fingerprints -> some band hits
    assert ("r1:a.py", "r1:b.py") in got
    # all pairs ordered
    assert all(a < b for a, b in got)


def test_winnow_lsh_max_bucket_is_subset(docs):
    from rdfshape_api_spark.functions.codeops import winnow_lsh_pairs

    full = winnow_lsh_pairs(docs)
    capped = winnow_lsh_pairs(docs, max_bucket=1)
    assert capped.exceptAll(full).isEmpty()
    # bucket cap 1 drops every >=2 bucket -> no pairs at all
    assert capped.count() == 0


def test_winnow_minhash_band_count(docs):
    from pyspark.sql import functions as F

    from rdfshape_api_spark.functions.codeops import (
        winnow_fingerprint_sets,
        winnow_minhash_bands,
    )

    sets = winnow_fingerprint_sets(docs).select(
        F.concat_ws(":", "repo", "path").alias("file_id"), "fingerprints"
    )
    b = winnow_minhash_bands(sets, num_hashes=32, bands=8)
    # every file emits exactly 8 band rows
    counts = {r.file_id: r.n for r in
              b.groupBy("file_id").agg(F.count("*").alias("n")).collect()}
    assert set(counts.values()) == {8}


def test_license_scan_detectors(spark):
    from rdfshape_api_spark.functions.codeops import license_scan

    rows = [
        ("r1", "a.py", "c", "python", "# SPDX-License-Identifier: Apache-2.0\nimport os\n"),
        ("r1", "b.py", "c", "python", "# SPDX-License-Identifier: MIT\nx = 1\n"),
        ("r1", "c.c", "c", "c", "/* Permission is hereby granted, free of charge */\nint main(){}\n"),
        ("r2", "d.c", "c", "c", "/* This file is under the GNU Lesser General Public License\n"
                                "   see also the GNU General Public License */\n"),
        ("r2", "e.txt", "c", "text", "no license here at all\n"),
        ("r2", "f.go", "c", "go", "// SPDX-License-Identifier: BSD-3-Clause\npackage main\n"),
    ]
    docs = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    got = {r.path: (r.spdx_id, r.family, r.detector) for r in license_scan(docs).collect()}
    assert got["a.py"] == ("Apache-2.0", "Apache-2.0", "spdx")
    assert got["b.py"] == ("MIT", "MIT", "spdx")
    assert got["c.c"] == (None, "MIT", "phrase")
    # LGPL outranks the GPL phrase its own text references
    assert got["d.c"] == (None, "LGPL", "phrase")
    assert got["e.txt"] == (None, None, None)
    assert got["f.go"] == ("BSD-3-Clause", "BSD", "spdx")


def test_repo_license_profile_rollup(spark):
    from rdfshape_api_spark.functions.codeops import repo_license_profile

    rows = [
        ("r1", "a", "c", "x", "# SPDX-License-Identifier: MIT\n"),
        ("r1", "b", "c", "x", "# SPDX-License-Identifier: MIT\n"),
        ("r1", "c", "c", "x", "nothing\n"),
        ("r2", "d", "c", "x", "Licensed under the Apache License, Version 2.0\n"),
    ]
    docs = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    got = {(r.repo, r.family): (r.n_files, r.repo_files, r.frac)
           for r in repo_license_profile(docs).collect()}
    assert got[("r1", "MIT")] == (2, 3, round(2 / 3, 6))
    assert got[("r1", "unknown")] == (1, 3, round(1 / 3, 6))
    assert got[("r2", "Apache-2.0")] == (1, 1, 1.0)


def test_license_scan_is_map_only(spark):
    from rdfshape_api_spark.functions.codeops import license_scan

    docs = spark.createDataFrame(
        [("r", "p", "c", "x", "y")],
        "repo string, path string, commit string, lang string, content string",
    )
    plan = license_scan(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
