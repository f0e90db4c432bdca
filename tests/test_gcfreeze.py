"""The one-shot heap freeze (``pdf_extractor_spark.gcfreeze``), run in
a subprocess so this test process keeps an unfrozen heap."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = textwrap.dedent(
    """
    import gc, weakref
    from pdf_extractor_spark.gcfreeze import freeze_after_first_collect

    hooks = len(gc.callbacks)
    freeze_after_first_collect()
    gc.collect(1)
    print("young", gc.get_freeze_count(), len(gc.callbacks) - hooks)
    gc.collect()
    print("full", gc.get_freeze_count() > 0, len(gc.callbacks) - hooks)

    class Cycle:
        pass

    cycle = Cycle()
    cycle.self = cycle
    ref = weakref.ref(cycle)
    del cycle
    gc.collect()
    print("cycle", ref() is None)
    """
)


def test_freeze_after_first_full_collect(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(PROBE)
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True, text=True, env=env, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.split("\n")[:3] == [
        "young 0 1",  # a young-generation collection neither freezes nor unhooks
        "full True 0",  # the first full collection freezes and removes the hook
        "cycle True",  # a cycle made after the freeze is still collected
    ]
