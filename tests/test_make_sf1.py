"""The tiled sf1/sf10 fixtures are reproducible row for row.

``scripts/make_sf1.py::tile`` writes each replica in its source file's row
order, so two builds of one fixture hold the same rows in the same order
(anything order-sensitive read from them — first-row picks, row-number
sampling, parquet bytes — is then the same across builds). Built from the
sf0.01 fixture at 2 replicas; no Spark session.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

import make_sf1  # noqa: E402


def _ordered_digest(path: Path) -> str:
    """sha256 of the file's rows, in order, as one Arrow IPC stream."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path).combine_chunks()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue()).hexdigest()


def test_two_builds_give_identical_ordered_digests(tmp_path, sf_oracle, monkeypatch):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    monkeypatch.setattr(make_sf1, "SRC", sf_oracle)
    tables = tuple(make_sf1.SHIFTED)
    a = Path(make_sf1.tile(str(tmp_path / "a"), 2, tables))
    b = Path(make_sf1.tile(str(tmp_path / "b"), 2, tables))
    names = sorted(p.name for p in a.glob("*.parquet"))
    assert names == sorted(p.name for p in b.glob("*.parquet"))
    assert {*tables, "embeddings", *make_sf1.COPIED} == {n[: -len(".parquet")] for n in names}
    for name in names:
        assert _ordered_digest(a / name) == _ordered_digest(b / name), name
    # the order is the contract, not an accident of one build: replica r is
    # the source in file order with its keys shifted by r * SHIFT
    for t in tables:
        src, out = pq.read_table(f"{sf_oracle}/{t}.parquet"), pq.read_table(a / f"{t}.parquet")
        n = src.num_rows
        for r in range(2):
            rep = out.slice(r * n, n)
            for c in src.column_names:
                want = src[c]
                if c in make_sf1.SHIFTED[t]:
                    want = pc.add(want, r * make_sf1.SHIFT)
                assert rep[c].equals(want.cast(rep[c].type)), (t, r, c)
