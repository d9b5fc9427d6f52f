"""Output checks for one workflow pass.

Each check returns ``None`` when the output is right and a one-line
reason when it is not; every non-``None`` result counts as a failed
operation in the benchmark's result line.
"""

from __future__ import annotations

import math
import re

ELBO_REL_TOL = 1e-9  # "the same to rounding": summation order may vary

_DISPLAY_LINE = re.compile(r"^topic (\d+)\t(\S+)\t(-?\d+\.\d+)$")


def documents(stage_json: dict, expected: int):
    got = stage_json.get("documents")
    if got != expected:
        return f"documents: expected {expected}, got {got}"
    return None


def iterations(stage_json: dict, expected: int):
    got = stage_json.get("iterations")
    if got != expected:
        return f"iterations: expected {expected}, got {got}"
    return None


def elbo_history(history: list, expected_len: int):
    """Finite, one entry per iteration, and never decreasing."""
    if len(history) != expected_len:
        return f"elbo history has {len(history)} entries, expected {expected_len}"
    if not all(math.isfinite(h) for h in history):
        return f"elbo history is not finite: {history}"
    for i in range(1, len(history)):
        prev = history[i - 1]
        if history[i] < prev - ELBO_REL_TOL * abs(prev):
            return f"elbo decreased at iteration {i + 1}: {history}"
    return None


def same_elbo(elbos: list):
    """Every train over the same input ends on the same ELBO."""
    first = elbos[0]
    for e in elbos[1:]:
        if abs(e - first) > ELBO_REL_TOL * abs(first):
            return f"final elbo differs between passes: {elbos}"
    return None


def display_lines(lines: list, n_topics: int, top: int = 10):
    """``display-topic`` prints ``top`` well-formed lines per topic."""
    if len(lines) != n_topics * top:
        return f"display-topic printed {len(lines)} lines, expected {n_topics * top}"
    for line in lines:
        if not _DISPLAY_LINE.match(line):
            return f"malformed display-topic line: {line!r}"
    return None


def topics_from_display(lines: list) -> dict:
    """topic -> list of its printed terms, in print order."""
    out: dict = {}
    for line in lines:
        m = _DISPLAY_LINE.match(line)
        if m:
            out.setdefault(int(m.group(1)), []).append(m.group(2))
    return out


def topic_recovery(learned: list, truth: list) -> float:
    """Mean top-word overlap of learned topics matched one-to-one to
    generating topics, greedily by overlap (1.0 = every learned topic is
    a distinct generating one).  A generating topic backs at most one
    learned topic, so learned topics that collapse onto the same words
    score low; a learned topic left without a partner scores 0."""
    if not learned:
        return 0.0
    truth_sets = [set(t) for t in truth]
    pairs = sorted(
        ((len(set(words) & t) / max(len(words), 1), i, j)
         for i, words in enumerate(learned)
         for j, t in enumerate(truth_sets)),
        reverse=True,
    )
    used_learned, used_truth, total = set(), set(), 0.0
    for score, i, j in pairs:
        if i not in used_learned and j not in used_truth:
            used_learned.add(i)
            used_truth.add(j)
            total += score
    return total / len(learned)


def recovery_floor(score: float, floor: float):
    if not score >= floor:
        return f"topic recovery {score:.3f} below floor {floor}"
    return None


def perplexity(value: float):
    if not (math.isfinite(value) and value > 1.0):
        return f"perplexity is not a finite value above 1: {value}"
    return None
