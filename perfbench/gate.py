"""Correctness gate: engine outputs against the generator's planted tags.

``dff.sources.synthetic_source_files`` tags every row with the violations
it plants (``planted`` column).  From those tags the expected per-partition
outcome of the benchmark ruleset follows directly:

- ``C_null_lang``  rows tagged ``null_lang``
- ``C_empty``      rows tagged ``empty_content`` and not ``null_lang``
                   (the rule DAG is first-match-wins)
- ``C_ref_commit`` rows tagged ``orphan_commit``
- ``uniqueness``   one violation per surplus copy of a (repo, path, commit)
                   key: rows minus distinct keys.  The generator can also
                   produce a key collision it did not plant, so the planted
                   count (one surplus copy per planted duplicate) is kept
                   beside it and any difference is reported as a property
                   of the fixture
- drift            PSI and binned KS of the partition's ``lang`` histogram
                   against the baseline, recomputed with numpy
                   (``dff.drift.psi`` / ``ks_binned``) from the fixture
- verdict          ``fail`` iff any count above is non-zero or the
                   partition drifted

Every mismatch is reported with its snapshot and partition.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dff.drift import ks_binned, psi
from dff.sources import ALLOWED_LANGS

CONSTRAINTS = ("C_null_lang", "C_empty", "C_ref_commit", "uniqueness")
PSI_THRESHOLD = 0.2  # ValidationConfig defaults
KS_THRESHOLD = 0.15
#: drift statistics closer than this to a threshold accept either verdict
EDGE = 1e-6


def _tag(t: str):
    return F.array_contains("planted", t)


def expected_by_partition(
    df: DataFrame, group_col: str | None, n_rows: int
) -> dict:
    """``{(group, part_id): {"rows": .., <constraint>: .., "null_lang": ..}}``
    from the planted tags.  ``n_rows`` is the generator's ``n``: planted
    duplicate copies carry ``row_id >= n``, so originals tagged ``dup``
    with ``row_id < n`` count the planted duplicate groups.  All copies of
    a key share its repo, hence its partition."""
    keys = [group_col, "part_id"] if group_col else ["part_id"]
    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    rows = (
        df.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            cnt(_tag("null_lang")).alias("C_null_lang"),
            cnt(_tag("empty_content") & ~_tag("null_lang")).alias("C_empty"),
            cnt(_tag("orphan_commit")).alias("C_ref_commit"),
            (F.count(F.lit(1)) - F.countDistinct("repo", "path", "commit")).alias(
                "uniqueness"
            ),
            cnt(_tag("dup") & (F.col("row_id") < n_rows)).alias("uniqueness_planted"),
            *[cnt(F.col("lang") == lg).alias(f"h_{lg}") for lg in ALLOWED_LANGS],
            cnt(~F.col("lang").isin(ALLOWED_LANGS)).alias("h_other"),
        )
        .collect()
    )
    out = {}
    for r in rows:
        d = r.asDict()
        key = (d.pop(group_col) if group_col else None, d.pop("part_id"))
        d = {k: int(v) for k, v in d.items()}
        d["null_lang"] = d["C_null_lang"]
        out[key] = d
    return out


def lang_histogram(exp: dict) -> np.ndarray:
    """Bucket counts in ``CategoricalBins`` order: categories, then OTHER
    (NULL is not counted)."""
    return np.array(
        [exp[f"h_{lg}"] for lg in ALLOWED_LANGS] + [exp["h_other"]],
        dtype=np.float64,
    )


def check_checkpoint_rows(
    rows: list, expected: dict[int, dict], baseline: np.ndarray
) -> list[str]:
    """Compare one snapshot's checkpoint rows with the expected outcome of
    its input (``{part_id: counts}``) under the drift ``baseline``
    histogram.  Returns the mismatches."""
    bad = []
    got = {r["partition_id"]: r for r in rows}
    if set(got) != set(expected):
        bad.append(
            f"partitions {sorted(got)} != expected {sorted(expected)}"
        )
    for part, exp in expected.items():
        r = got.get(part)
        if r is None:
            continue
        metrics = r["metrics"] or {}
        if r["rows"] != exp["rows"]:
            bad.append(f"part {part}: rows {r['rows']} != {exp['rows']}")
        for c in CONSTRAINTS:
            n = int(metrics.get(c, 0))
            if n != exp[c]:
                bad.append(f"part {part}: {c} {n} != {exp[c]}")
        hist = lang_histogram(exp)
        want_psi, want_ks = psi(baseline, hist), ks_binned(baseline, hist)
        for name, want_v in (("max_psi", want_psi), ("max_ks", want_ks)):
            got_v = metrics.get(name, 0.0)
            if abs(got_v - want_v) > 1e-9 + 1e-6 * abs(want_v):
                bad.append(f"part {part}: {name} {got_v} != {want_v}")
        want = expected_verdict(exp, baseline, want_psi, want_ks)
        if want is not None and r["verdict"] != want:
            bad.append(f"part {part}: verdict {r['verdict']} != {want}")
    return bad


def expected_verdict(
    exp: dict, baseline: np.ndarray, p: float | None = None, k: float | None = None
) -> str | None:
    """``pass``/``fail`` for one partition; ``None`` when a drift
    statistic sits on its threshold and either verdict is right."""
    if any(exp[c] for c in CONSTRAINTS):
        return "fail"
    if p is None:
        hist = lang_histogram(exp)
        p, k = psi(baseline, hist), ks_binned(baseline, hist)
    if abs(p - PSI_THRESHOLD) < EDGE or abs(k - KS_THRESHOLD) < EDGE:
        return None
    return "fail" if p > PSI_THRESHOLD or k > KS_THRESHOLD else "pass"


def unplanted_duplicates(expected: dict[int, dict]) -> int:
    """Surplus key copies the generator produced without planting them."""
    return total(expected, "uniqueness") - total(expected, "uniqueness_planted")


def total(expected: dict[int, dict], key: str) -> int:
    return sum(v[key] for v in expected.values())
