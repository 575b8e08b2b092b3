"""scripts/ab.py's bookkeeping, without a Spark session: crashed child reps
stay visible, output-hash disagreement fails the run, and B's wins are
counted per A/B pair."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

import ab  # noqa: E402


def _rep(total_q1: float, digest: str = "h1") -> dict:
    return {"times": {"q1": total_q1, "q2": 0.5}, "hashes": {"q1": digest, "q2": "h2"}}


def test_failed_child_kept_in_raw_and_counted():
    ok = [sys.executable, "-c", 'print("RESULT " + \'{"times": {"q1": 1.0}, "hashes": {"q1": "h"}}\')']
    crash = [sys.executable, "-c", 'import sys; print("boom", file=sys.stderr); sys.exit(3)']
    raw = ab.interleave(2, lambda v: ab.run_child(ok if v == "A" else crash))

    assert raw["B"] == [{"returncode": 3, "stderr_tail": ["boom"]}] * 2
    result = ab.summarize(raw)
    assert result["summary"]["A"]["failed_reps"] == 0
    assert result["summary"]["B"]["failed_reps"] == 2
    assert result["summary"]["B"]["total_per_rep"] == []
    assert result["pairs"] == 0
    # no successful B rep: equality cannot be shown
    assert result["outputs_equal"] is False
    assert ab.exit_code(result) == 1


def test_output_hash_mismatch_fails_the_run():
    same = ab.summarize({"A": [_rep(1.0)], "B": [_rep(1.0)]})
    assert same["outputs_equal"] is True
    assert ab.exit_code(same) == 0

    differ = ab.summarize({"A": [_rep(1.0)], "B": [_rep(1.0, digest="other")]})
    assert differ["outputs_equal"] is False
    assert ab.exit_code(differ) == 1


def test_b_wins_counted_per_pair():
    raw = {
        "A": [_rep(1.0), _rep(2.0), _rep(1.0), {"returncode": 1, "stderr_tail": []}],
        "B": [_rep(0.5), _rep(3.0), _rep(0.9), _rep(0.1)],
    }
    result = ab.summarize(raw)
    # the 4th pair has a crashed A rep and is not a pair
    assert (result["pairs"], result["b_wins"]) == (3, 2)
    assert result["summary"]["B"]["total_per_rep"] == [1.0, 3.5, 1.4, 0.6]
    assert result["summary"]["B"]["total_min"] == 0.6
    assert result["summary"]["B"]["total_median"] == 1.2
    assert result["summary"]["B"]["per_query_min"] == {"q1": 0.1, "q2": 0.5}
    assert ab.exit_code(result) == 1  # the crashed rep


def test_parse_conf():
    assert ab.parse_conf("") == {}
    assert ab.parse_conf("a.b=1, c=x=y") == {"a.b": "1", "c": "x=y"}
    with pytest.raises(ValueError, match="not k=v"):
        ab.parse_conf("a.b")
