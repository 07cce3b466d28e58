"""orc_format_spark — a PySpark-native per-column lightweight-compression engine.

Built from scratch (NOT a port) with the codec semantics of the reference
decoder toolkit ``DataEngineeringLabs/orc-format`` (/root/reference): ORC-style
dictionary encoding with sorted dictionaries, integer RLE v2
(short-repeat / direct / delta / patched-base), boolean/byte RLE, raw IEEE
floats, string direct encoding, plus FSST symbol-table compression,
bit-packing and frame-of-reference — all implemented as vectorized numpy
kernels invoked from Arrow UDFs (``mapInArrow``), with a
per-stripe codec auto-selector, a versioned lineage log that records each
stripe's file and footer-style stats, and salted repartitioning for skew.

Layout:
    codecs/    pure-numpy codec kernels (no Spark imports)
    selector   per-column codec auto-selection (NDV / run hist / entropy)
    stripe     Arrow-level stripe encode/decode (one stripe = one sorted run)
    pipeline   Spark jobs: encode/decode DataFrames, lineage, resume;
               run_kernel, the Arrow runner of every operator kernel
    transcripts  deterministic synthetic transcripts generator (FIXTURES.md A)
    ops/       large-scale training-data pipeline operators (dedup, ANN,
               text analysis, multimodal plumbing)
"""

__version__ = "0.1.0"


def _tune_malloc() -> None:
    """Keep large numpy buffers inside the glibc arena instead of per-call
    mmap/munmap. The codec kernels allocate multi-MB temporaries per stripe;
    with tens of concurrent Python workers, munmap-driven TLB shootdowns
    serialize the whole box (measured 7x aggregate throughput loss at 32
    procs on this host). mallopt at import time covers every process that
    imports the engine — driver and Spark Python workers alike."""
    import ctypes
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        M_TRIM_THRESHOLD, M_MMAP_THRESHOLD = -1, -3
        libc.mallopt(M_MMAP_THRESHOLD, 1 << 30)
        libc.mallopt(M_TRIM_THRESHOLD, 1 << 30)
    except Exception:
        pass  # non-glibc platform: harmless to skip


def _cache_zip_directories() -> None:
    """Make ``importlib.invalidate_caches()`` re-read a zip archive's
    directory only when the archive changed. Spark's Python worker calls it
    at the start of every task (``worker_util.setup_spark_files``), and on
    CPython < 3.13 each ``zipimporter`` then re-parses its whole archive:
    pyspark.zip, the py4j zip and the spark-core jar (5k+ entries) sit on
    the workers' PYTHONPATH, which cost 120-340 ms per task before the
    kernel ran. Every read is stamped with the archive's
    ``(st_mtime_ns, st_size, st_ino)`` taken before it; an unchanged stamp
    re-binds the cached directory, a changed or missing one re-reads as the
    stdlib does (a new ``addPyFile`` zip is a new path anyway). Installed
    at import time, like _tune_malloc, so it covers every process that
    imports the engine. CPython 3.13+ re-reads lazily on its own (the
    ``_get_files`` feature test), so nothing is installed there."""
    import os
    import zipimport

    importer = zipimport.zipimporter
    if (hasattr(importer, "_get_files")
            or importer.invalidate_caches.__module__ == __name__):
        return
    stamps: dict[str, tuple | None] = {}
    read_directory = zipimport._read_directory
    reread = importer.invalidate_caches

    def stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size, st.st_ino

    def stamped_read(archive):
        before = stamp(archive)
        files = read_directory(archive)
        stamps[archive] = before
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        now = stamp(self.archive)
        if files is not None and now is not None \
                and stamps.get(self.archive) == now:
            self._files = files
        else:
            reread(self)

    zipimport._read_directory = stamped_read
    importer.invalidate_caches = invalidate_caches


_tune_malloc()
_cache_zip_directories()
