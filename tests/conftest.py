import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from gliner_spark.plans.session import build_session

    s = build_session(
        app_name="gliner-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        arrow_batch_rows=64,  # small batches → exercises batching parity
    )
    yield s
    s.stop()


@pytest.fixture
def side(monkeypatch):
    """Both sides of a size gate on one call. `side(call)` runs the
    DataFrame thunk `call` with the gate's bound above any test input,
    then at 0; only the first run may enter the small side, both runs
    must return equal schemas and equal row multisets, and the rows are
    returned. The default gate is the one-task finisher
    (`iterate.SMALL_SOLVE`, small side `iterate.one_task`);
    `gate=(module, bound_name, small_side_name)` names another, and a
    `(module, name)` pair in the last place spies a small side that
    lives in another module than the bound."""
    from collections import Counter

    from gliner_spark.plans import iterate

    def run(call, gate=(iterate, "SMALL_SOLVE", "one_task")):
        module, bound, small = gate
        owner, small = small if isinstance(small, tuple) else (module, small)
        real = getattr(owner, small)
        calls = []

        def spy(*a, **k):
            calls.append(1)
            return real(*a, **k)

        monkeypatch.setattr(owner, small, spy)
        out = []
        for limit in (10**9, 0):
            monkeypatch.setattr(module, bound, limit)
            df = call()
            out.append((df.schema, df.collect(), len(calls)))
        (s_small, r_small, n_small), (s_big, r_big, n_big) = out
        assert n_small >= 1 and n_big == n_small, "gate did not flip"
        assert s_small == s_big
        assert Counter(r_small) == Counter(r_big)
        return r_small

    return run


@pytest.fixture(params=["empty", "self_loops", "int32"])
def edge_case(request, spark):
    """(src, dst) edge frames every size-gated graph solver must treat
    alike on both sides: no edges, only self-loops, and int32 ids (two
    triangles joined by a one-way bridge, plus a 2-cycle)."""
    rows = {
        "empty": [],
        "self_loops": [(1, 1), (2, 2)],
        "int32": [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4),
                  (7, 8), (8, 7)],
    }[request.param]
    ty = "int" if request.param == "int32" else "long"
    return spark.createDataFrame(rows, f"src {ty}, dst {ty}")
