"""Sources & sinks.

Reference parity: the ``pandas/io/`` surface (SURVEY §2.1) —
``read_csv`` ``io/parsers.py:702``, ``read_json`` ``io/json/json.py:228``,
``read_parquet`` ``io/parquet.py:255``, ``read_sql`` ``io/sql.py:315``,
sinks ``generic.py:9834+``. The reference's C tokenizer / chunked
iterator machinery is replaced by Spark's distributed readers;
``usecols`` becomes a column projection Catalyst prunes into the scan,
``chunksize``/``iterator`` are obsolete (the whole dataset is already
partition-parallel).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .. import _internal as I
from ..frame import Frame


# sessions already configured by _ensure_session_confs (token-keyed; a
# handful of conf.get round-trips per read_parquet call otherwise)
_CONFED: set = set()


def _session_token(spark: SparkSession):
    """Per-session cache key that can never alias (r14, VERDICT r13 #4):
    ``id(spark)`` of a garbage-collected session can be recycled by a
    new one, silently skipping conf setup or returning a plan bound to
    a stopped session. A token object stored ON the session dies with
    it — a fresh session always mints a fresh token."""
    tok = getattr(spark, "_gps_token", None)
    if tok is None:
        tok = object()
        spark._gps_token = tok
    return tok


def _ensure_session_confs(spark: SparkSession) -> None:
    """The engine may be handed an externally-created SparkSession
    (the driver contract passes its own). Set the runtime-settable
    confs the engine's semantics depend on: ns-parquet readability,
    UTC timestamps, non-ANSI (NULL-on-error) arithmetic."""
    tok = _session_token(spark)
    if tok in _CONFED:
        return
    _CONFED.add(tok)
    try:
        # switch off per-call origin capture for externally-created
        # sessions too (see session.py) — and drop PySpark's cached
        # answer so the new value is re-read on the next API call
        if spark.conf.get("spark.python.sql.dataFrameDebugging.enabled",
                          None) != "false":
            spark.conf.set("spark.python.sql.dataFrameDebugging.enabled",
                           "false")
        import pyspark.errors.utils as _eu

        _eu._enable_debugging_cache = None
    except Exception:
        pass
    for k, v in [
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.ansi.enabled", "false"),
        # PySpark 4 infers parquet isAdjustedToUTC=false columns as
        # TIMESTAMP_NTZ, which LTZ-only functions (unix_micros et al.)
        # reject. The reference's datetime64[ns] is tz-naive-as-UTC
        # (SURVEY.md §1.3) — read everything as session-UTC TIMESTAMP.
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        # Write µs timestamps (not INT96): round-trippable by every
        # modern reader and never mistaken for ns by footer inspection.
        ("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"),
    ]:
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass


def table_stamp(path: str, children: dict | None = None):
    """Data stamp of a file or directory tree: (file count, max mtime,
    total bytes) over every file and directory under ``path``, or None
    when it cannot be read. The whole tree is walked: rewriting a
    part-file in place leaves its directory's mtime unchanged.
    ``children``, if given, receives the stamp of each top-level entry
    of a directory, keyed by path; they fold (counts and bytes summed,
    mtimes maxed with the directory's own) into the directory's stamp,
    so a caller can later re-stamp one entry alone."""
    import os
    import stat

    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (1, st.st_mtime, st.st_size)
        n, mt, sz = 0, st.st_mtime, 0
        with os.scandir(path) as it:
            for e in it:
                s = table_stamp(e.path)
                if s is None:
                    return None
                if children is not None:
                    children[e.path] = s
                n, mt, sz = n + s[0], max(mt, s[1]), sz + s[2]
        return (n, mt, sz)
    except (OSError, RecursionError):  # unreadable, or a symlink cycle
        return None


# LAZY-PLAN memo for read_parquet: one entry per (session, path)
# holding (table_stamp, plan, footer schema, Spark schema as read
# before the ns truncation). Repeated reads of an unchanged table
# reuse the already-built logical plan (file listing + footer schema +
# ns-truncation projection) instead of paying ~4-6 driver round-trips
# per read. This caches NO data and NO results: every action over the
# returned Frame re-scans the parquet files through the normal
# FileScan. The plan's file index holds the listing taken when it was
# built (paths, lengths), so the entry is only served while the tree's
# stamp is unchanged; a rewrite (even in place, same file name) builds
# a fresh plan that replaces the stale entry. The stamp is taken BEFORE
# the build, so a file changed while listing misses next time. A stale
# entry whose data files still carry the footer schema it was inferred
# from (``_footer_schema``) is rebuilt over that schema: Spark's
# inference is a job (one task reading a footer), which also kept a
# suite query that reads the table from being memoized on its first
# build after a rewrite. Bounded FIFO.
_PLAN_MEMO: dict = {}


def _footer_schema(path: str):
    """The parquet schema and Spark row metadata that every data file of
    ``path`` (one file, or a flat directory of them) carries in its
    footer, or None: files that disagree, subdirectories (partition
    discovery adds columns), a glob, or an unreadable footer. Equal
    values mean Spark's inference, whichever file it reads, gives the
    schema it gave before."""
    import os

    import pyarrow.parquet as pq

    if "*" in path:
        return None
    try:
        if os.path.isdir(path):
            files = []
            with os.scandir(path) as it:
                for e in it:
                    if e.name.startswith(("_", ".")):
                        continue  # _SUCCESS, checksums: Spark skips them
                    if not e.is_file():
                        return None
                    files.append(e.path)
        else:
            files = [path]
        out = None
        for f in files:
            md = pq.read_metadata(f)
            kv = md.metadata or {}
            sig = (md.schema,
                   kv.get(b"org.apache.spark.sql.parquet.row.metadata"))
            if out is not None and sig != out:
                return None
            out = sig
        return out
    except Exception:  # noqa: BLE001 — unreadable footer: infer as Spark does
        return None


def read_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> Frame:
    _ensure_session_confs(spark)
    stamp = table_stamp(path)
    key = (_session_token(spark), path)
    hit = _PLAN_MEMO.get(key)
    if stamp is not None and hit is not None and hit[0] == stamp:
        sdf = hit[1]
    else:
        footer = _footer_schema(path) if stamp is not None else None
        reader = spark.read
        if footer is not None and hit is not None and hit[2] == footer:
            reader = reader.schema(hit[3])  # no inference job
        sdf = reader.parquet(path)
        raw_schema = sdf.schema
        # datetime64[ns] columns land as long (nanosAsLong) — truncate to µs
        # timestamps (the reference's ns precision is a deliberate delta,
        # SURVEY.md §1.3). Column detection reads one footer, not data.
        # Guard on the ACTUAL loaded type: INT96-written files also show
        # timestamp[ns] in the pyarrow footer but load as TIMESTAMP already.
        nanos = set(_nanos_columns(path))
        if nanos:
            from pyspark.sql import functions as F
            from pyspark.sql.types import LongType

            for f in sdf.schema.fields:
                if f.name in nanos and isinstance(f.dataType, LongType):
                    # integer `div`, NOT `/1000` + cast: ns epochs exceed
                    # double's 53-bit mantissa and float division is off by ±1µs
                    sdf = sdf.withColumn(
                        f.name, F.timestamp_micros(F.expr(f"`{f.name}` div 1000")))
        _PLAN_MEMO.pop(key, None)
        if stamp is not None:
            while len(_PLAN_MEMO) >= 32:
                _PLAN_MEMO.pop(next(iter(_PLAN_MEMO)))
            _PLAN_MEMO[key] = (stamp, sdf, footer, raw_schema)
    if columns:
        sdf = sdf.select(*columns)  # pruned into the parquet scan by Catalyst
    # NOTE: single-row-group files scan as ONE task; we deliberately do
    # NOT repartition here — measured slower for scan-light queries
    # (the exchange outweighs the parallelism). CPU-heavy operators
    # (dedup/similarity/ewm) apply ensure_parallelism themselves.
    return Frame(sdf)


def _nanos_columns(path: str) -> list[str]:
    try:
        import glob
        import pyarrow.parquet as pq

        files = sorted(glob.glob(path)) if "*" in path else [path]
        f = files[0]
        import os

        if os.path.isdir(f):
            inner = [p for p in sorted(glob.glob(os.path.join(f, "*.parquet")))]
            if not inner:
                return []
            f = inner[0]
        schema = pq.read_schema(f)
        return [n for n, t in zip(schema.names, schema.types) if str(t) == "timestamp[ns]"]
    except Exception:
        return []


def read_csv(spark: SparkSession, path: str, sep: str = ",", header: bool | int | None = True,
             names: list[str] | None = None, dtype: dict | None = None,
             usecols: list[str] | None = None, parse_dates: list[str] | None = None,
             infer_schema: bool = True, nrows: int | None = None) -> Frame:
    # pandas header convention: 0 means "first row IS the header";
    # False/None mean headerless (NOT int 0 — `False == 0` in Python,
    # so identity-check the sentinels before the int compare). Larger
    # ints mean "skip rows before the header", which a distributed text
    # scan can't express row-positionally — refuse loudly.
    if header is True or (header is not False and header is not None and header == 0):
        has_header = True
    elif header is False or header is None:
        has_header = False
    else:
        raise NotImplementedError(
            f"read_csv(header={header!r}): only header=0/True (first row is "
            f"the header) or header=False/None (no header row) are supported; "
            f"skip leading rows upstream or slice after reading")
    reader = spark.read.option("header", has_header).option("sep", sep)
    if infer_schema and not dtype:
        reader = reader.option("inferSchema", True)
    sdf = reader.csv(path)
    if nrows is not None:
        sdf = sdf.limit(nrows)
    if names:
        sdf = sdf.toDF(*names)
    if dtype:
        from ..functions.dtypes import to_spark_type
        from pyspark.sql import functions as F

        for c, dt in dtype.items():
            sdf = sdf.withColumn(c, F.col(c).cast(to_spark_type(dt)))
    if parse_dates:
        from pyspark.sql import functions as F

        for c in parse_dates:
            sdf = sdf.withColumn(c, F.col(c).cast("timestamp"))
    if usecols:
        sdf = sdf.select(*usecols)
    return Frame(sdf)


def read_json(spark: SparkSession, path: str, lines: bool = True) -> Frame:
    sdf = spark.read.option("multiLine", not lines).json(path)
    return Frame(sdf)


def read_table(spark: SparkSession, path: str, sep: str = "\t", **kw) -> Frame:
    return read_csv(spark, path, sep=sep, **kw)


def read_fwf(spark: SparkSession, path: str, colspecs: list[tuple[int, int]], names: list[str]) -> Frame:
    """Fixed-width text (``io/parsers.py:721``) = text scan + substring
    projections (all JVM-side)."""
    from pyspark.sql import functions as F

    sdf = spark.read.text(path)
    cols = [F.trim(F.substring("value", lo + 1, hi - lo)).alias(nm)
            for (lo, hi), nm in zip(colspecs, names)]
    return Frame(sdf.select(*cols))


def read_sql(spark: SparkSession, sql_or_table: str, url: str, **options) -> Frame:
    """``read_sql_query`` (``io/sql.py:254``). Two paths:

    - ``jdbc:`` URLs → Spark JDBC with whole-query pushdown (the scale
      path; supports ``partitionColumn``/``numPartitions`` for parallel
      reads on a real cluster).
    - anything else is treated as a SQLite file path and read driver-side
      via the stdlib ``sqlite3`` + pandas — the reference's own execution
      model (``SQLiteDatabase`` ``io/sql.py:1350`` is single-node too),
      for small lookup/config tables only.
    """
    if not url.startswith("jdbc:"):
        return _read_sql_sqlite(spark, sql_or_table, url)
    reader = spark.read.format("jdbc").option("url", url)
    q = sql_or_table.strip()
    key = "query" if q.lower().startswith(("select", "with")) else "dbtable"
    reader = reader.option(key, sql_or_table)
    for k, v in options.items():
        reader = reader.option(k, v)
    return Frame(reader.load())


def _read_sql_sqlite(spark: SparkSession, sql_or_table: str, database: str) -> Frame:
    import sqlite3

    import pandas as pd

    q = sql_or_table.strip()
    if not q.lower().startswith(("select", "with")):
        q = f'SELECT * FROM "{q}"'
    with sqlite3.connect(database) as con:
        pdf = pd.read_sql_query(q, con)
    return Frame.from_pandas(spark, pdf)


def to_sql(frame: Frame, name: str, database: str, if_exists: str = "fail",
           max_rows: int = 5_000_000) -> None:
    """``to_sql`` (``generic.py:2353``). SQLite has no distributed write
    path — the reference also executes this on one node — so the frame is
    collected to the driver and written via pandas/sqlite3. ``max_rows``
    guards the driver heap; for warehouse-scale sinks use
    ``frame.to_spark().write.jdbc`` (distributed, per-partition inserts).
    """
    import sqlite3

    n = frame._sdf.count()
    if n > max_rows:
        raise ValueError(
            f"to_sql collects to the driver ({n} rows > max_rows={max_rows}); "
            "use to_spark().write.jdbc for large tables")
    pdf = frame.to_pandas()
    with sqlite3.connect(database) as con:
        pdf.to_sql(name, con, if_exists=if_exists, index=False)


def json_normalize(frame, json_col=None, fields: list[str] | None = None,
                   prefix: str = "") -> Frame:
    """Nested-JSON flattening (``io/json/normalize.py:96``) via
    ``get_json_object`` projections (JVM-side, no Python).

    pandas form: ``json_normalize(spark, records)`` with a list of
    dicts — normalized driver-side (records are driver data by
    definition) and Arrow-shipped; dotted paths become ``_`` names."""
    from pyspark.sql import SparkSession, functions as F

    if isinstance(frame, SparkSession):
        import pandas as pd

        pdf = pd.json_normalize(json_col)
        pdf.columns = [c.replace(".", "_") for c in pdf.columns]
        # object columns from uneven nesting (lists/None) stringify
        for c in pdf.columns:
            if pdf[c].dtype == object and pdf[c].map(
                    lambda x: isinstance(x, (list, dict))).any():
                pdf[c] = pdf[c].map(lambda x: None if x is None else str(x))
        return Frame.from_pandas(frame, pdf)

    sdf = frame._sdf
    for f in fields:
        sdf = sdf.withColumn(f"{prefix}{f.replace('.', '_')}",
                             F.get_json_object(F.col(json_col), f"$.{f}"))
    return Frame(sdf, frame._index_names)


def write_bucketed(frame: Frame, table: str, bucket_cols: list[str], num_buckets: int = 32,
                   sort_cols: list[str] | None = None, mode: str = "overwrite") -> None:
    """Bucketed managed table: joins/aggregations on the bucket keys
    need NO shuffle afterwards (the co-located-join story for repeated
    100 TB joins; see tests/test_plans.py::test_bucketed_join_no_shuffle)."""
    w = frame.to_spark().write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


# ---------------- sinks ----------------

def to_parquet(frame: Frame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    w = frame.to_spark().write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def to_csv(frame: Frame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    frame.to_spark().write.mode(mode).option("header", header).csv(path)


def to_json(frame: Frame, path: str, mode: str = "overwrite") -> None:
    frame.to_spark().write.mode(mode).json(path)


def to_dict(frame: Frame, orient: str = "records"):
    return frame.to_pandas().to_dict(orient=orient)


def to_string(frame: Frame, n: int | None = None) -> str:
    from ..options import get_option

    if n is None:
        n = get_option("display.max_rows")
    pdf = frame.head(n).to_pandas()
    max_cols = get_option("display.max_columns")
    if max_cols and len(pdf.columns) > max_cols:
        pdf = pdf[list(pdf.columns[:max_cols])]
    return pdf.to_string()


def read_feather(spark: SparkSession, path: str) -> Frame:
    """``io/feather_format.py:87`` — Feather IS Arrow IPC: pyarrow
    reads the file, ``createDataFrame`` ships it Arrow-batched into
    the JVM. Single-file local format → driver-bounded by design,
    exactly like the reference. Columnar formats meant for scale go
    through ``read_parquet``."""
    import pyarrow.feather as feather

    _ensure_session_confs(spark)
    table = feather.read_table(path)
    return Frame(spark.createDataFrame(table.to_pandas()))


def to_feather(frame: Frame, path: str) -> None:
    """``generic.py`` to_feather — collect through Arrow, write IPC.
    Driver-bounded (the format is single-file by definition)."""
    import pyarrow as pa
    import pyarrow.feather as feather

    feather.write_feather(pa.Table.from_pandas(frame.to_pandas()), path)


def read_orc(spark: SparkSession, path: str, columns: list[str] | None = None) -> Frame:
    """``io/orc.py`` read_orc — Spark-native ORC scan: vectorized
    reader, predicate pushdown and column pruning identical to the
    parquet path. Fully distributed (unlike feather/pickle)."""
    _ensure_session_confs(spark)
    sdf = spark.read.orc(path)
    if columns:
        sdf = sdf.select(*columns)  # pruned into the ORC scan by Catalyst
    return Frame(sdf)


def to_orc(frame: Frame, path: str, mode: str = "overwrite",
           partition_by: list[str] | None = None) -> None:
    """Distributed ORC sink (pandas 0.24 has no to_orc; engine
    extension mirroring to_parquet for ORC-standardized warehouses)."""
    w = frame.to_spark().write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def to_records(frame: Frame, index: bool = False):
    """``generic.py:1481`` — numpy structured array (driver-side)."""
    return frame.to_pandas().to_records(index=index)


def to_pickle(frame: Frame, path: str) -> None:
    """``generic.py`` to_pickle — driver-side (single-file format);
    columnar data meant for scale goes through ``to_parquet``."""
    frame.to_pandas().to_pickle(path)


def read_pickle(spark: SparkSession, path: str) -> Frame:
    import pandas as pd

    _ensure_session_confs(spark)
    return Frame(spark.createDataFrame(pd.read_pickle(path)))


def to_latex(frame: Frame, n: int = 20) -> str:
    """``generic.py`` to_latex — presentation of the head (driver)."""
    return frame.head(n).to_pandas().to_latex()


def to_html(frame: Frame, n: int = 20) -> str:
    return frame.head(n).to_pandas().to_html()


def to_hdf(frame: Frame, path: str, key: str) -> None:
    """``generic.py:2029`` to_hdf — rides pandas/PyTables when the
    executor image has them; parquet is the native at-rest format
    (read_hdf pushdown is superseded by parquet + Catalyst)."""
    try:
        frame.to_pandas().to_hdf(path, key=key)
    except ImportError as e:  # pytables absent in this container
        raise ImportError(
            "to_hdf needs PyTables; use to_parquet for the scale path") from e


def read_binary_files(spark: SparkSession, path: str,
                      glob: str | None = None,
                      recursive: bool = False) -> Frame:
    """Raw-media ingestion via Spark's built-in ``binaryFile`` source:
    one row per file with (path, modificationTime, length, content
    binary) — the 100 TB front door for the multimodal operators
    (operators/multimodal.py expects exactly this binary+metadata
    shape). Reading is distributed (files are split across tasks) and
    column pruning applies: a query over metadata only never loads
    ``content``. ``glob`` maps to pathGlobFilter (e.g. ``"*.ppm"``),
    ``recursive`` to recursiveFileLookup."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return Frame(reader.load(path))
