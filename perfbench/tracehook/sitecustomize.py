"""Imported at start-up by every Python interpreter whose PYTHONPATH holds
this directory; the traced benchmark run puts it on the Spark Python
workers' PYTHONPATH. With ``PERFBENCH_TRACE_DIR`` set it installs the span
wrappers of ``perfbench.spans`` on the engine modules as they are imported.
"""

import os
import sys

if os.environ.get("PERFBENCH_TRACE_DIR"):
    from perfbench import spans as _spans

    sys.meta_path.insert(0, _spans.PatchFinder(
        _spans.WorkerTracer(os.environ["PERFBENCH_TRACE_DIR"])))
