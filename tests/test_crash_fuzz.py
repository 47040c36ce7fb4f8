"""CI slices of the crash-point fuzzes: the object-store store (r9)
and the near-dup index generations.

The full sweeps live in ``tools/crash_fuzz.py`` and
``tools/idx_crash_fuzz.py`` (the ``objcrash`` and ``idxcrash``
families of ``tools/fuzz_all.py``, 24 seeds each).  This pins a
handful of seeds of each —
including ones verified to crash mid-pass — so the convergence
invariant (recovery writer steals the expired lease and serves exactly
the landed batches) is exercised on every test run.
"""

import pytest


class TestCrashRecovery:
    # a spread of seeds over the kill-point range (the instrumented
    # sweep measured 18/24 crashing inside the maintenance pass across
    # before/after-op, bucketed, plain and retention variants; the
    # rest exercise crash-free convergence)
    @pytest.mark.parametrize("seed", [2, 3, 14, 19, 21, 8])
    def test_converges_after_injected_crash(self, spark, seed):
        from tools.crash_fuzz import run_seed

        err = run_seed(spark, seed)
        assert err is None, err


class TestIndexCrashRecovery:
    # CI slice of the near-dup index crash fuzz (tools/idx_crash_fuzz.py,
    # 24-seed manual sweep): every index kind and every doomed op —
    # 0 minhash/compact, 2 embedding/reconcile and 5 ngram/append crash
    # mid-pass; 8 embedding/compact converges crash-free
    @pytest.mark.parametrize("seed", [0, 2, 5, 8])
    def test_index_converges_after_injected_crash(self, spark, seed):
        from tools.idx_crash_fuzz import run_seed

        err = run_seed(spark, seed)
        assert err is None, err
