"""Large-scale training-data pipeline operators (first-class components
alongside the codec engine): deduplication, similarity search, text
analysis, and multimodal column plumbing. All Spark-first: built-in
DataFrame ops where expressible, otherwise Arrow kernels run by
``pipeline.run_kernel`` (one numpy pass per Arrow batch) — never per-row
Python in the hot path.

Two pandas UDFs remain in the package, both outside these operators:
``transcripts.generate`` shares its row logic with ``expected_pandas``
(the fixture's test oracle), and ``streaming.conversation_rollup`` needs
``applyInPandasWithState``, which has no Arrow-batch stateful counterpart.
"""

from . import dedup, multimodal, similarity, text  # noqa: F401
