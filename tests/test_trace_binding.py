"""The benchmark's layer tracer (perfbench/trace.py) wraps methods it finds
in each class's own namespace (``cls.__dict__[name]``). A refactor that
moves a traced index method into a base class passes every other test
and still breaks ``perfbench/run.py --trace 1`` with a KeyError, so the
install/uninstall round trip is pinned here."""

from perfbench.trace import Tracer


def test_tracer_installs_and_restores_every_binding(spark):
    tracer = Tracer(spark)
    try:
        tracer.install()
        saved = list(tracer._saved)
        assert saved
        wrapped = {(getattr(o, "__name__", o), a) for o, a, _ in saved}
        for cls in ("BandedMinHashIndex", "InvertedIndex", "CellVectorIndex"):
            assert (cls, "apply_batch") in wrapped
        for owner, attr, fn in saved:
            now = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            assert now is not fn, f"{owner}.{attr} was not wrapped"
    finally:
        tracer.uninstall()
    assert tracer._saved == []
    for owner, attr, fn in saved:
        now = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        assert now is fn, f"{owner}.{attr} was not restored"
