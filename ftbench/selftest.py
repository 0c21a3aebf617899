"""Self-test of the result gate: the oracle's own answers pass, and each
kind of perturbed answer is rejected. Needs no Spark; every benchmark run
calls it before set-up, and it runs alone as

    python3 ftbench/selftest.py [--seed N]
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np

if __package__ in (None, ""):  # run as a script: import the package by path
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    __package__ = "ftbench"

from .corpus import Pages  # noqa: E402
from .oracle import Oracle, check_counts, check_ranked  # noqa: E402
from .queries import pools  # noqa: E402


def _perturbations(rows: list[tuple]) -> dict[str, list[tuple]]:
    r = list(rows)
    out = {
        "dropped last row": r[:-1],
        "extra row": r + [(len(r) + 1, 10**9, "https://x.example/", 0.0)],
        "score off by 1e-6": [r[0][:3] + (r[0][3] * (1 + 1e-6),)] + r[1:],
        "wrong url": [r[0][:2] + ("https://x.example/",) + r[0][3:]] + r[1:],
        "wrong rank number": [(r[0][0] + 1,) + r[0][1:]] + r[1:],
    }
    if len(r) >= 2:
        (r1, d1, u1, s1), (r2, d2, u2, s2) = r[0], r[1]
        out["ranks 1 and 2 swapped"] = [(r1, d2, u2, s2), (r2, d1, u1, s1)] + r[2:]
    return out


def run_selftest(seed: int = 7, n_docs: int = 300) -> list[str]:
    """Problems found; empty when the gate passes good and rejects bad."""
    o = Oracle()
    pages = Pages(seed, range(n_docs))
    o.register("seg0", o.add(pages))
    problems: list[str] = []
    for shape, qs in pools(o, np.random.default_rng([seed, 1])).items():
        exp = qs[0].expect(o)
        rows = [(i + 1, d, u, s) for i, (d, u, s) in enumerate(exp)]
        if check_ranked(rows, exp) is not None:
            problems.append(f"{shape}: gate rejected the oracle's own answer")
        for what, bad in _perturbations(rows).items():
            if check_ranked(bad, exp) is None:
                problems.append(f"{shape}: gate accepted a result with {what}")
    n_docs_, n_terms = o.segment_counts("seg0")
    good = {"segment": "seg0", "n_docs": n_docs_, "n_terms": n_terms}
    if check_counts(good, (n_docs_, n_terms)) is not None:
        problems.append("build gate rejected correct counts")
    for key in ("n_docs", "n_terms"):
        if check_counts({**good, key: good[key] + 1}, (n_docs_, n_terms)) is None:
            problems.append(f"build gate accepted a wrong {key}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    problems = run_selftest(ap.parse_args().seed)
    for p in problems:
        print(f"selftest: {p}", file=sys.stderr)
    print("selftest: ok" if not problems else f"selftest: {len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
