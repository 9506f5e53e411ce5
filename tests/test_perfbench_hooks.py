"""The traced benchmark run (perfbench/trace.py) wraps named entry points
of the package. Entering its instrumentation fails if one of them was
renamed or moved, and leaving it must put every original back."""

from perfbench.trace import Instrumentation, Tracer


def test_instrumentation_patches_and_restores_every_hook(spark):
    inst = Instrumentation(Tracer(spark))
    with inst:
        patched = list(inst._undo)
        assert patched
        for owner, attr, orig in patched:
            assert vars(owner)[attr] is not orig, f"{owner}.{attr} not wrapped"
    assert not inst._undo
    for owner, attr, orig in patched:
        assert vars(owner)[attr] is orig, f"{owner}.{attr} not restored"
