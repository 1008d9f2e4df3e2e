"""The oracle checker's streamed compare: the multiset digest of
``tools/check_correctness.py`` ignores row order and keeps row
multiplicity and cell values."""

import importlib.util
from pathlib import Path

_SPEC = importlib.util.spec_from_file_location(
    "check_correctness",
    Path(__file__).resolve().parents[1] / "tools" / "check_correctness.py",
)
cc = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(cc)


def test_digest_is_an_order_insensitive_multiset_hash():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y"), (2, "y"), (3.0, None)]
    base = cc.digest_rows(cols, rows)
    assert base[:2] == (["a", "b"], 4)
    # row order and column order do not matter
    assert cc.digest_rows(cols, list(reversed(rows))) == base
    assert cc.digest_rows(["a", "b"], [(a, b) for b, a in rows]) == base
    # one extra duplicate row, one fewer, or one changed cell do
    assert cc.digest_rows(cols, rows + [(1, "x")])[2] != base[2]
    assert cc.digest_rows(cols, rows[:-1])[2] != base[2]
    assert cc.digest_rows(cols, [(1, "x"), (2, "y"), (2, "z"), (3.0, None)])[2] != base[2]
    # the streamed DuckDB read yields every row of the cursor
    class Cur:
        def __init__(self, rows):
            self.rows = list(rows)

        def fetchmany(self, size):
            out, self.rows = self.rows[:size], self.rows[size:]
            return out

    assert list(cc.fetch_iter(Cur(range(7)), size=3)) == list(range(7))
