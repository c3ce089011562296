"""Output checks.  Each returns a list of problems; empty means the
output is correct.  Every problem counts the checked operation as
failed."""
from __future__ import annotations

import math
import os
import re

# a ranked feature name carries its sketch summary: "name-(card; cov)"
_NAME_RE = re.compile(r"^(.*)-\((\d+); (\d+)\)$")

HLL_SIGMAS = 3.0


def hll_error_bound(p: int) -> float:
    """``HLL_SIGMAS`` standard errors of an HLL with 2^p registers
    (sigma = 1.04 / sqrt(m))."""
    return HLL_SIGMAS * 1.04 / math.sqrt(2 ** p)


def split_feature_name(name: str) -> tuple[str, int | None]:
    """("f30", 75) from "f30-(75; 100)"; a bare name has no card."""
    m = _NAME_RE.match(name)
    if m is None:
        return name, None
    return m.group(1), int(m.group(2))


def card_rel_err_max(estimates: dict, exact: dict) -> float:
    """Max over columns of |estimate - exact| / exact."""
    return max(abs(estimates[c] - n) / n for c, n in exact.items() if n)


def check_cardinality(estimates: dict, exact: dict, p: int) -> list[str]:
    missing = sorted(set(exact) - set(estimates))
    if missing:
        return [f"no cardinality estimate for {missing[:5]}"]
    err = card_rel_err_max(estimates, exact)
    bound = hll_error_bound(p)
    if err > bound:
        return [f"card_rel_err_max {err:.5f} > {bound:.5f} (p={p})"]
    return []


def check_pairwise(triplets, pairs) -> list[str]:
    """``triplets`` (FeatureA, FeatureB, Score) holds every planned
    pair in both orders, each order with the same finite score."""
    expected = {(a, b) for a, b in pairs} | {(b, a) for a, b in pairs}
    scores = {}
    for a, b, s in zip(triplets["FeatureA"], triplets["FeatureB"],
                       triplets["Score"]):
        scores[(a, b)] = s
    problems = []
    missing = expected - set(scores)
    extra = set(scores) - expected
    if missing:
        problems.append(f"{len(missing)} planned pair orders missing, "
                        f"e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{len(extra)} unplanned pairs, "
                        f"e.g. {sorted(extra)[:3]}")
    bad = [k for k, s in scores.items() if not math.isfinite(s)]
    if bad:
        problems.append(f"{len(bad)} non-finite scores, e.g. {bad[:3]}")
    asym = [(a, b) for (a, b), s in scores.items()
            if (b, a) in scores and math.isfinite(s)
            and scores[(b, a)] != s]
    if asym:
        problems.append(f"{len(asym)} asymmetric scores, e.g. {asym[:3]}")
    return problems


def check_top_features(singles, label: str, needles) -> list[str]:
    """The label and the ``needles`` are the top-ranked features of
    ``singles`` (Feature column, best first).  The label and a needle
    that copies it tie on score, so their order is not checked."""
    names = [split_feature_name(f)[0] for f in singles["Feature"]]
    top = names[:1 + len(needles)]
    want = {label, *needles}
    if set(top) != want:
        return [f"top features {top} != {sorted(want)}"]
    return []


def check_report_files(folder: str, expected) -> list[str]:
    problems = []
    for name in expected:
        path = os.path.join(folder, name)
        if not os.path.isfile(path) or os.path.getsize(path) == 0:
            problems.append(f"report {name} missing or empty")
    return problems


def check_blobs_equal(got: dict, want: dict) -> list[str]:
    """Two {key: serialized sketch} maps are bitwise equal."""
    problems = []
    if set(got) != set(want):
        diff = sorted(set(got) ^ set(want))
        problems.append(f"sketch keys differ, e.g. {diff[:3]}")
    unequal = sorted(k for k in set(got) & set(want) if got[k] != want[k])
    if unequal:
        problems.append(f"{len(unequal)} sketch blobs differ, "
                        f"e.g. {unequal[:3]}")
    return problems
