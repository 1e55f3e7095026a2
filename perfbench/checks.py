"""Correctness checks, run outside the timing. Each returns a list of
problems; an empty list means the check passed."""

from __future__ import annotations


def build_stats(stats: dict, n_turns: int) -> list[str]:
    """The build indexed every input turn."""
    if stats.get("n_docs") != n_turns:
        return [f"stats n_docs={stats.get('n_docs')} for {n_turns} turns"]
    return []


def _key(rows: list[dict]) -> list[tuple]:
    return [(r["docid"], r["rank"], r.get("score")) for r in rows]


def same_rows(a: list[dict], b: list[dict], label: str) -> list[str]:
    """Exactly the same docids, ranks and scores (where the request asked for
    scores), in order."""
    if _key(a) != _key(b):
        return [f"{label}: {_key(a)} != {_key(b)}"]
    return []
