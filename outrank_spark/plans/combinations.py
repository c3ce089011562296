"""Driver-side pair-combination planning.

Port of the reference's enumeration + monte-carlo prior sampling
(``core_ranking.py:50-97``), as a planner object instead of module
globals so the prior counts are checkpointable state:

* default: ``combinations_with_replacement(columns, 2)``, filtered to
  label-touching pairs when ``target_ranking_only``; non-label
  diagonal pairs appended otherwise (core_ranking.py:68-97);
* 3MR: pairs over non-relational columns + (relational, label) pairs,
  bound capped at 10^4 (core_ranking.py:46-47, 71-73);
* prior sampling: keep the ``upper_bound`` least-previously-sampled
  pairs, increment their counts, shuffle (core_ranking.py:50-65) —
  the shuffle here is *seeded* so plans are reproducible.

This is metadata-scale work (thousands of column names) — it stays on
the driver and becomes the task list for the executor fan-out.
"""
from __future__ import annotations

import itertools
import random
from collections import Counter

__all__ = ["CombinationPlanner", "MAX_FEATURES_3MR"]

MAX_FEATURES_3MR = 10 ** 4


class CombinationPlanner:
    def __init__(self, seed: int = 123):
        self.prior_counts: Counter = Counter()
        self._rng = random.Random(seed)

    def enumerate(self, columns, label_column: str, heuristic: str,
                  target_ranking_only: bool) -> list[tuple[str, str]]:
        columns = list(columns)
        if "3mr" in heuristic:
            rel = [c for c in columns if " AND_REL " in c]
            non_rel = sorted(set(columns) - set(rel))
            combos = list(itertools.combinations_with_replacement(non_rel, 2))
            combos += [(c, label_column) for c in rel]
        else:
            all_combos = itertools.combinations_with_replacement(columns, 2)
            if target_ranking_only:
                combos = [x for x in all_combos if label_column in x]
            else:
                combos = list(all_combos)
        if not target_ranking_only:
            combos += [(c, c) for c in columns if c != label_column]
        return combos

    def sample(self, combos: list[tuple[str, str]],
               upper_bound: int) -> list[tuple[str, str]]:
        if not combos:
            return []
        for c in combos:  # list order keeps the state's key order stable
            self.prior_counts.setdefault(c, 0)
        kept = sorted(combos, key=self.prior_counts.get)[:upper_bound]
        for c in kept:
            self.prior_counts[c] += 1
        self._rng.shuffle(kept)
        return kept

    def plan(self, columns, label_column: str, heuristic: str,
             target_ranking_only: bool,
             upper_bound: int) -> list[tuple[str, str]]:
        if "3mr" in heuristic:
            upper_bound = min(upper_bound, MAX_FEATURES_3MR)
        combos = self.enumerate(
            columns, label_column, heuristic, target_ranking_only,
        )
        return self.sample(combos, upper_bound)

    # checkpointable state ------------------------------------------------
    def state(self) -> dict:
        return {f"{a}\x1f{b}": n for (a, b), n in self.prior_counts.items()}

    def restore(self, state: dict) -> None:
        self.prior_counts = Counter(
            {tuple(k.split("\x1f")): v for k, v in state.items()},
        )
