"""bench.py's one-line JSON contract survives a hung re-measure pass."""

import threading
import time

import bench


def test_self_defense_pass_is_wall_bounded(monkeypatch):
    cancelled = threading.Event()

    class HungQuery:
        def collect(self):
            # blocks like a stuck Spark job until the jobs are cancelled
            cancelled.wait(60)
            raise RuntimeError("job cancelled")

    class FakeContext:
        def cancelAllJobs(self):
            cancelled.set()

    class FakeSpark:
        sparkContext = FakeContext()

    monkeypatch.setattr(bench, "_load_baseline",
                        lambda: {"queries": {"q_hang": 1.0}})
    monkeypatch.setattr(bench, "_compare",
                        lambda timings, total, base: (["q_hang"], {"c": 1}))
    monkeypatch.setattr(bench.entrymod, "queries",
                        lambda: {"q_hang": lambda spark, sf: HungQuery()})
    t0 = time.monotonic()
    extra = bench._bounded_self_defense(FakeSpark(), "sf", {"q_hang": 3.0},
                                        3.0, wall_s=1.0)
    assert time.monotonic() - t0 < 20
    assert cancelled.is_set()
    assert extra["self_defense_cut"] is True
    assert extra["controls"] == {"c": 1}
    # the cancelled re-run measured nothing, so nothing was adjudicated
    assert extra["adjudication"] == {}
