"""Table loaders for the driver's testdata layout.

One parquet file per table under ``{sf_dir}/{name}.parquet``. Reads are
plain ``spark.read.parquet`` so Catalyst keeps predicate pushdown,
column pruning, and partition coalescing; never collect here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    LongType,
    MapType,
    StructField,
    StructType,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    # events.ts arrives in one of two parquet vintages: TIMESTAMP(NANOS)
    # (read as raw nanosecond longs via the legacy flag) or
    # TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Canonicalize both to
    # epoch-nanosecond longs so every downstream `ts div 1000` site and
    # DuckDB `epoch_us(ts)` oracle sees the same value. timestampdiff is
    # session-timezone-independent (NTZ arithmetic, no epoch cast).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return canonicalize_events(df) if name == "events" else df


def canonicalize_events(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to epoch-nanosecond longs
    regardless of parquet vintage (works on batch and streaming frames)."""
    if isinstance(df.schema["ts"].dataType, LongType):
        return df
    return df.withColumn(
        "ts",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            " cast(ts AS TIMESTAMP_NTZ))"
        )
        * F.lit(1000),
    )


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``load(spark, sf_dir, "events")``: reads the
    events file with its NATIVE parquet schema (a stream's declared
    schema must match the files on disk) and applies the same ``ts``
    canonicalization, so streaming and batch plans see identical types."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return canonicalize_events(stream)


def load_series(
    spark: SparkSession,
    path: str,
    *,
    fmt: str = "parquet",
    schema: str | None = None,
    **options: str,
) -> DataFrame:
    """Generic long-form series loader for parquet / csv / json sources.

    CSV/JSON require an explicit ``schema`` (DDL string) — schema
    inference needs an extra full scan and produces drifting types, both
    wrong at 100 TB. Readers stay declarative so Catalyst keeps
    predicate pushdown and column pruning (CSV/JSON prune columns and
    push filters at the parser level; parquet also skips row groups).
    """
    if fmt not in ("parquet", "csv", "json"):
        raise ValueError(f"unsupported format {fmt!r}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        raise ValueError(f"{fmt} sources require an explicit schema")
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.options(**options).format(fmt).load(path)


#: the file, at the index root, that holds the schema of the index
_SCHEMA_FILE = "_schema.json"


def write_words_multilevel(
    words: DataFrame,
    path: str,
    *,
    c: int,
    levels: tuple[int, ...] = (2, 4),
    word_col: str = "sax_word",
    mode: str = "overwrite",
) -> None:
    """Sink: persist a word table under NESTED iSAX coarse buckets —
    ``isax_l0=<c=2 word>/isax_l1=<c=4 word>/`` directories. This is a
    materialized iSAX prefix tree: because power-of-two breakpoint
    tables nest exactly (coarsening == re-encoding at the lower
    cardinality), level k+1 refines level k, and a query prunes with
    PartitionFilters on EVERY level at once — the scan opens only the
    single finest-level directory chain matching the pattern
    (~prod(1/c_i^w) of the data) before any row is read.
    ``levels=(2,)`` is the one-level layout: the tree root alone, one
    ``isax_l0=`` directory per c=2 word.

    The index carries its schema: every write that creates or replaces
    it (``overwrite``, or any mode into a missing or empty directory)
    then writes ``<path>/_schema.json``, exactly the schema
    ``spark.read.parquet(path)`` infers — the data columns, then the
    ``isax_l*`` columns, all nullable. The leading ``_`` hides it from
    Spark's file listing. An append into an existing index first checks
    the frame's schema against the stored one and raises ``ValueError``
    on a mismatch (or on a directory without ``_schema.json``) before
    any file is written.
    """
    from ..functions.sax import sax_coarsen

    _check_levels(levels, c)
    out = words
    cols = []
    for i, cc in enumerate(levels):
        out = out.withColumn(f"isax_l{i}", sax_coarsen(F.col(word_col), c, cc))
        cols.append(f"isax_l{i}")
    schema = _nullable(
        StructType(
            [f for f in out.schema if f.name not in cols] + [out.schema[n] for n in cols]
        )
    )
    spark = words.sparkSession
    fs, root = _index_fs(spark, path)
    fresh = not fs.exists(root) or len(fs.listStatus(root)) == 0
    if mode.lower() == "append" and not fresh:
        stored = _stored_schema(spark, path)
        if stored != schema:
            raise ValueError(
                f"cannot append to {path}: the index holds {stored.simpleString()},"
                f" the frame gives {schema.simpleString()}"
            )
    out.write.mode(mode).partitionBy(*cols).parquet(path)
    if fresh or mode.lower() == "overwrite":
        stream = fs.create(spark._jvm.Path(root, _SCHEMA_FILE), True)
        try:
            stream.write(schema.json().encode())
        finally:
            stream.close()


def _nullable(t: DataType) -> DataType:
    """``t`` with every field, element and value nullable — what a
    parquet read reports for a written schema."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _index_fs(spark: SparkSession, path: str):
    """(Hadoop ``FileSystem``, ``Path``) of an index root. The Hadoop
    class is imported into the JVM view: resolving
    ``org.apache.hadoop.fs.Path`` segment by segment costs one failed
    class lookup over every jar per package segment."""
    from py4j.java_gateway import java_import

    java_import(spark._jvm, "org.apache.hadoop.fs.Path")
    root = spark._jvm.Path(path)
    return root.getFileSystem(spark._jsc.hadoopConfiguration()), root


def _stored_schema(spark: SparkSession, path: str) -> StructType:
    """The schema an index keeps in its ``_schema.json``, read through
    the Hadoop FS API (no Spark job); ``ValueError`` when there is none."""
    import json

    from py4j.java_gateway import java_import
    from py4j.protocol import Py4JJavaError

    java_import(spark._jvm, "org.apache.commons.io.IOUtils")
    fs, file = _index_fs(spark, f"{path.rstrip('/')}/{_SCHEMA_FILE}")
    try:
        stream = fs.open(file)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.io.FileNotFoundException":
            raise
        raise ValueError(
            f"{path} has no {_SCHEMA_FILE}: rewrite the index with write_words_multilevel"
        ) from None
    try:
        return StructType.fromJson(json.loads(spark._jvm.IOUtils.toString(stream, "UTF-8")))
    finally:
        stream.close()


def _check_levels(levels: tuple[int, ...], c: int) -> None:
    """The iSAX layout's level rule: cardinalities increasing, all below ``c``."""
    if any(b <= a for a, b in zip(levels, (*levels[1:], c))):
        raise ValueError("levels must be increasing and below c")


def read_words_multilevel(
    spark: SparkSession,
    path: str,
    pattern: str,
    *,
    c: int,
    levels: tuple[int, ...] = (2, 4),
) -> DataFrame:
    """Read back only the nested bucket chain matching ``pattern``.

    The pattern (``ValueError`` on a letter outside the first ``c`` and
    '#') and ``levels`` (the writer's rule) are checked before any path
    is built. The schema comes from the index's ``_schema.json``
    (:func:`write_words_multilevel`), read through the Hadoop FS API, so
    no Spark job infers it; an index without one raises ``ValueError``
    — rewrite it with :func:`write_words_multilevel`. The read lists
    only the chain's leaf directory (``isax_l0=<w0>/isax_l1=<w1>``, '#'
    escaped as ``%23`` as Spark writes it) under ``basePath``, so the
    level columns keep their names and no partition discovery runs over
    the rest of the index. It keeps one equality predicate per level on
    those partition columns (``PartitionFilters`` shows every level),
    passed as one SQL string. A chain the index does not hold gives an
    empty frame with the stored schema that reads no file.
    """
    from pyspark.errors import AnalysisException

    from .. import pykernel as pk

    pk.parse(pattern, c)
    _check_levels(levels, c)
    chain = [pk.coarsen(pattern, c, cc) for cc in levels]
    root = path.rstrip("/")
    schema = _stored_schema(spark, root)
    leaf = "/".join(f"isax_l{i}={w.replace('#', '%23')}" for i, w in enumerate(chain))
    try:
        df = spark.read.schema(schema).option("basePath", root).parquet(f"{root}/{leaf}")
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        df = spark.createDataFrame([], schema)
    return df.where(" AND ".join(f"isax_l{i} = '{w}'" for i, w in enumerate(chain)))


def write_bucketed_table(
    df: DataFrame,
    table: str,
    *,
    key: str,
    num_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` hash-bucketed (and optionally sorted) by ``key``
    into the session catalog — the storage layout that makes repeated
    big-big joins and aggregations on ``key`` SHUFFLE-FREE: two tables
    bucketed the same way join without an Exchange on either side (and
    without a Sort when pre-sorted), which at 100 TB is the difference
    between an exchange of the whole fact table per query and none.

    This is the general-relational sibling of the iSAX layout above:
    `write_words_multilevel` prunes SCANS via partition directories;
    bucketing co-locates JOINS via hash-bucket files. The bucket count
    should match (a multiple of) the cluster's target parallelism.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)


def write_ivf_partitioned(
    vectors: "DataFrame",
    path: str,
    *,
    num_lists: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> "DataFrame":
    """Sink: persist an embedding table partitioned by its IVF coarse
    list (``list_id=<n>/`` directories) plus the centroid table as a
    ``_centroids`` subdirectory — the embedding-space analogue of
    :func:`write_words_multilevel`. At rest, an ANN probe that restricts
    to ``nprobe`` lists becomes a PARTITION-PRUNED scan: Spark opens
    only the probed directories (~nprobe/num_lists of the data) before
    any vector is read.

    Returns the centroid DataFrame (tiny) for immediate probe use.
    """
    from ..operators.simsearch import ivf_index

    assigned, centroids = ivf_index(
        vectors, num_lists=num_lists, dim=dim, id_col=id_col, vec_col=vec_col
    )
    assigned.write.mode(mode).partitionBy("list_id").parquet(path)
    centroids.write.mode(mode).parquet(f"{path}/_centroids")
    return centroids


def read_ivf_probe(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    *,
    k: int,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> "DataFrame":
    """Probe an at-rest IVF index: pick the ``nprobe`` centroids nearest
    to ``query_vec`` (centroid table is tiny — the argmin runs as a
    TakeOrderedAndProject), push ``list_id IN (...)`` into the
    partitioned scan (PartitionFilters — only the probed directories are
    read), and exact-cosine-rerank the survivors to the top ``k``
    -> ``(vec_id, cos)``.

    The probe-list selection reads the centroid table (num_lists rows)
    on the driver: that is num_lists floats, not data — the corpus-sized
    side stays partition-pruned on the executors. At
    ``nprobe == num_lists`` the result is exactly brute force.
    """
    from pyspark.sql import functions as F

    cent = spark.read.parquet(f"{path}/_centroids")
    q = [float(x) for x in query_vec]
    qlit = F.array(*[F.lit(x) for x in q])
    probed = [
        r["list_id"]
        for r in cent.select(
            "list_id",
            F.aggregate(
                F.zip_with(
                    F.col("centroid"), qlit, lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("__d2"),
        )
        .orderBy("__d2", "list_id")
        .limit(nprobe)
        .collect()
    ]
    data = spark.read.parquet(path).where(F.col("list_id").isin(probed))
    if exclude_id is not None:
        data = data.where(F.col(id_col) != exclude_id)
    vd = F.col(vec_col).cast("array<double>")
    dot = F.aggregate(
        F.zip_with(vd, qlit, lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    )
    nv = F.sqrt(
        F.aggregate(F.zip_with(vd, vd, lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x)
    )
    nq = float(sum(x * x for x in q)) ** 0.5
    return (
        data.select(
            F.col(id_col),
            F.round(dot / (nv * F.lit(nq)), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), id_col)
        .limit(k)
    )


def write_dhash_index(
    media: "DataFrame",
    path: str,
    *,
    rows: int = 13,
    cols: int = 9,
    files_per_band: int = 2,
    id_col: str = "media_id",
    payload_col: str = "payload",
    mode: str = "overwrite",
) -> None:
    """Sink: persist the wide-dHash chunk index as ``band=<b>/``
    directories with files RANGE-CLUSTERED by chunk — the
    perceptual-modality analogue of :func:`write_ivf_partitioned`.
    Each media row appears once per band (``rows`` rows total)
    carrying its full ``dhash_rows`` for the refine.

    Layout rationale: one directory per (band, chunk) would be the
    purest pruning story but costs ``rows x 2^(cols-1)`` directories
    (3,328 at the default geometry) of fixed commit/listing overhead
    regardless of volume — measured 7x the data's own write time at
    test scale. Partitioning by band (``rows`` directories) and
    range-partitioning files on (band, chunk) keeps the directory
    count flat while giving every file a TIGHT chunk min/max range,
    so a probe's ``chunk = w`` predicate skips whole files from
    parquet footer stats alone (PartitionFilters on band +
    PushedFilters row-group skipping on chunk). Scale the file count
    with ``files_per_band``; each file stays one contiguous chunk
    range."""
    from ..cache import persist_tracked
    from ..operators.multimodal import media_dhash_wide

    # materialize the hash before the range shuffle: repartitionByRange
    # SAMPLES its child for bounds, which would evaluate the ~200-node
    # sampled-byte expression twice (and blow the 64 KB codegen method
    # limit inside the exchange) — persisted, it runs once, scan-stage
    h = persist_tracked(
        media_dhash_wide(
            media, rows=rows, cols=cols, id_col=id_col,
            payload_col=payload_col,
        )
    )
    chunks = h.select(
        "media_id",
        "dhash_rows",
        F.posexplode("dhash_rows").alias("band", "chunk"),
    )
    (
        chunks.repartitionByRange(rows * files_per_band, "band", "chunk")
        .sortWithinPartitions("band", "chunk")
        .write.mode(mode)
        .partitionBy("band")
        .parquet(path)
    )


def read_dhash_probe(
    spark: SparkSession,
    path: str,
    probe_rows: list[int],
    *,
    max_hamming: int,
    exclude_id: int | None = None,
) -> "DataFrame":
    """Probe an at-rest dHash index: the probe hash's per-row words
    name its ``len(probe_rows)`` (band, chunk) buckets; the disjunction
    of those equality pairs is pushed into the partitioned scan
    (PartitionFilters — only matching directories are opened), and the
    survivors are refined by summed ``bit_count(xor)`` ->
    ``(media_id, hamming)`` with ``hamming <= max_hamming``, ordered
    (hamming, media_id). Pigeonhole-exact for
    ``bands > max_hamming``: any in-radius match shares at least one
    band verbatim, so it lives in a probed directory."""
    if max_hamming < 0:
        raise ValueError("read_dhash_probe needs max_hamming >= 0")
    if len(probe_rows) <= max_hamming:
        raise ValueError("pigeonhole exactness needs bands > max_hamming")
    cond = None
    for b, w in enumerate(probe_rows):
        c = (F.col("band") == int(b)) & (F.col("chunk") == int(w))
        cond = c if cond is None else (cond | c)
    data = spark.read.parquet(path).where(cond)
    if exclude_id is not None:
        data = data.where(F.col("media_id") != exclude_id)
    plit = F.array(*[F.lit(int(w)) for w in probe_rows])
    ham = F.aggregate(
        F.zip_with(
            F.col("dhash_rows"),
            plit,
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("int"),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        data.dropDuplicates(["media_id"])
        .select("media_id", ham.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .orderBy("hamming", "media_id")
    )


def write_lsh_index(
    docs: "DataFrame",
    path: str,
    *,
    k: int,
    num_hashes: int,
    bands: int,
    seed: int = 7,
    files_per_band: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "overwrite",
) -> None:
    """Sink: persist the MinHash-LSH band index as ``band=<b>/``
    directories with files RANGE-CLUSTERED by band_key — the TEXT
    modality's at-rest index, completing the matrix next to
    :func:`write_dhash_index` (perceptual), :func:`write_ivf_partitioned`
    (embeddings) and the iSAX tree (series). Each doc appears once per
    band carrying its FULL signature (``array<long>``, ``num_hashes``
    elements) for the similarity refine at probe time.

    Banding is value-identical to ``operators.dedup.minhash_lsh_pairs``
    (same coefficients, same ``_``-joined keys), so an incremental
    batch probed against this index sees exactly the pairs the batch
    self-join would emit. Same layout rationale as the dhash index:
    band directories keep the listing overhead at ``bands`` entries,
    and range-clustering files on band_key gives every file a tight
    key min/max so a probe's equality predicate skips whole files from
    footer stats (PartitionFilters on band + PushedFilters on
    band_key)."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    from ..cache import persist_tracked
    from ..operators.dedup import minhash_signatures

    # materialize the signatures before the range shuffle:
    # repartitionByRange samples its child for bounds, which would
    # re-run the shingle-explode aggregation twice
    sigs = persist_tracked(
        minhash_signatures(
            docs, k=k, num_hashes=num_hashes, seed=seed,
            id_col=id_col, text_col=text_col,
        )
    )
    sig_arr = F.array(*[F.col(f"m{i}") for i in range(num_hashes)])
    banded = sigs.select(
        F.col("doc_id"),
        sig_arr.alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("long").alias("band"),
                        F.concat_ws(
                            "_",
                            *[F.col(f"m{b * r + j}") for j in range(r)],
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("s"),
    ).select(
        "doc_id",
        "sig",
        F.col("s.band").alias("band"),
        F.col("s.band_key").alias("band_key"),
    )
    (
        banded.repartitionByRange(bands * files_per_band, "band", "band_key")
        .sortWithinPartitions("band", "band_key")
        .write.mode(mode)
        .partitionBy("band")
        .parquet(path)
    )


def read_lsh_probe(
    spark: SparkSession,
    path: str,
    probe_bands: list[str],
    probe_sig: list[int],
    *,
    threshold: float,
    exclude_id: int | None = None,
) -> "DataFrame":
    """Probe an at-rest LSH index with ONE document: ``probe_bands``
    is its per-band key list (band b's key at index b), ``probe_sig``
    its full signature. The disjunction of (band, band_key) equality
    pairs prunes the partitioned scan to matching directories/files
    before any row is read; survivors are refined by the estimated
    Jaccard (fraction of equal signature components vs the broadcast
    probe literal) -> ``(doc_id, est_jaccard)`` at ``>= threshold``.
    Index entries are never scanned corpus-wide — probe cost follows
    the probe's bucket populations (the LSH guarantee)."""
    if not probe_bands or not probe_sig:
        raise ValueError("read_lsh_probe needs probe bands and signature")
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    cond = None
    for b, key in enumerate(probe_bands):
        c = (F.col("band") == int(b)) & (F.col("band_key") == str(key))
        cond = c if cond is None else (cond | c)
    data = spark.read.parquet(path).where(cond)
    if exclude_id is not None:
        data = data.where(F.col("doc_id") != exclude_id)
    plit = F.array(*[F.lit(int(v)) for v in probe_sig])
    matches = F.aggregate(
        F.zip_with(
            F.col("sig"), plit, lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = F.round(matches / F.lit(float(len(probe_sig))), 4)
    return (
        data.dropDuplicates(["doc_id"])
        .select("doc_id", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )


def write_compacted(
    df: "DataFrame",
    path: str,
    *,
    target_rows_per_file: int,
    order_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> int:
    """Small-files-aware sink: write ``df`` as
    ``ceil(count / target_rows_per_file)`` similarly-sized parquet files,
    optionally range-clustered on ``order_cols`` so each file covers a
    contiguous key range (min/max footer stats then prune file-level on
    those columns at read time). Returns the file count written.

    The small-files problem is the quiet killer of 100 TB layouts: a
    shuffle-partitioned write emits ``spark.sql.shuffle.partitions``
    files per job regardless of size, and a petabyte of 2 MB files
    drowns the driver in footer reads and the NameNode/listing layer in
    metadata. Sizing files by ROWS (one count — cheap, exact) keeps the
    at-rest layout stable as data grows; range-clustering additionally
    gives every file a tight min/max band on the sort key, which is what
    makes parquet row-group/file skipping effective for time- or
    id-predicated scans.

    One extra job for the count plus one exchange for the
    repartition(ByRange) — both write-side, one-time costs; queries pay
    nothing.
    """
    if target_rows_per_file <= 0:
        raise ValueError("target_rows_per_file must be positive")
    n = df.count()
    files = max(1, -(-n // target_rows_per_file))
    if order_cols:
        out = df.repartitionByRange(files, *[F.col(c) for c in order_cols])
        out = out.sortWithinPartitions(*order_cols)
    else:
        out = df.repartition(files)
    out.write.mode(mode).parquet(path)
    return files


def zorder_key(cols: list["Column"], *, bits: int = 16) -> "Column":
    """Morton (Z-order) interleave of non-negative integer columns into
    one long: bit ``j`` of column ``i`` lands at position
    ``j * len(cols) + i``. Values are clamped to ``bits`` bits (callers
    pre-bucket real keys — e.g. ``day``, ``user_id % 2^16`` — into that
    budget). Pure JVM bit arithmetic (scan-stage, codegen'd).

    ``len(cols) * bits`` must be <= 63 so the key fits a signed long.
    """
    k = len(cols)
    if k < 2:
        raise ValueError("zorder_key needs at least 2 columns")
    if k * bits > 63:
        raise ValueError("zorder_key needs len(cols) * bits <= 63")
    mask = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        # SATURATING clamp: out-of-budget keys pin to the curve's edge,
        # preserving locality; a bitmask would wrap them to the opposite
        # end and blow up that file's min/max stats band
        v = F.least(F.greatest(c.cast("long"), F.lit(0)), F.lit(mask))
        for j in range(bits):
            bit = F.shiftright(v, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * k + i))
    return z


def write_zordered(
    df: "DataFrame",
    path: str,
    *,
    cluster_cols: list[str],
    target_rows_per_file: int,
    bits: int = 16,
    mode: str = "overwrite",
) -> int:
    """Multi-dimensional clustering sink: range-partition + sort the
    rows by their Morton Z-order key over ``cluster_cols``, so every
    file's min/max footer band is tight on EVERY clustered column at
    once — the layout that makes 2-D predicates (e.g. ``user_id = X AND
    day BETWEEN a AND b``) skip files, where single-column range
    clustering only prunes its leading column. Returns the file count.

    This is the Delta/Iceberg ``OPTIMIZE ZORDER BY`` idea as a plain
    parquet layout: the Z-curve maps multi-dim proximity to 1-D
    proximity, range-partitioning on the key then gives each file a
    contiguous curve segment == a small hyper-rectangle of the key
    space. Same one-count + one-exchange write cost as
    :func:`write_compacted`; queries pay nothing and prune on ordinary
    parquet column stats.
    """
    if target_rows_per_file <= 0:
        raise ValueError("target_rows_per_file must be positive")
    zk = zorder_key([F.col(c) for c in cluster_cols], bits=bits)
    n = df.count()
    files = max(1, -(-n // target_rows_per_file))
    out = (
        df.withColumn("__zk", zk)
        .repartitionByRange(files, F.col("__zk"))
        .sortWithinPartitions("__zk")
        .drop("__zk")
    )
    out.write.mode(mode).parquet(path)
    return files


def _postings_rows(
    docs: "DataFrame", *, id_col: str, text_col: str
) -> "DataFrame":
    """Shared postings builder: one row per (doc, term) carrying
    ``tf``, ``dl`` and the sorted 1-based ``positions`` list — the
    POSITIONAL posting that serves both BM25 (tf/dl) and phrase
    queries (positions) off the same layout."""
    from ..functions.text import tokens

    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__t")
    ).select(
        "doc_id",
        F.size("__t").alias("dl"),
        F.posexplode("__t").alias("__p0", "term"),
    )
    return base.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf"),
        F.first("dl").alias("dl"),
        F.sort_array(
            F.collect_list((F.col("__p0") + 1).cast("int"))
        ).alias("positions"),
    )


def write_postings_index(
    docs: "DataFrame",
    path: str,
    *,
    num_buckets: int = 32,
    files_per_bucket: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "overwrite",
) -> None:
    """Sink: persist the classic IR INVERTED INDEX at rest —
    ``<path>/postings`` rows ``(term, doc_id, tf, dl)`` under
    ``tb=<hash-bucket-of-term>/`` directories with files
    range-clustered by term, plus ``<path>/stats`` (one row:
    ``n`` docs, ``sum_dl`` total tokens as exact BIGINT — avgdl is
    derived at probe time as one division so both engines see the
    same exact-rational operand, never a float-summation-order
    artifact).

    Completes the at-rest matrix's retrieval cell next to
    :func:`write_lsh_index` (near-dup), :func:`write_dhash_index`
    (perceptual), :func:`write_ivf_partitioned` (embeddings) and the
    iSAX tree (series). Bucketing by ``hash60(term) % num_buckets``
    keeps directory listing at ``num_buckets`` entries while a probe
    for q terms touches ≤ q directories (PartitionFilters) and, inside
    each, only the files whose term min/max straddles a probed term
    (PushedFilters on the range-clustered ``term``). Postings volume
    is Σ per-doc distinct terms — the scan a probe pays follows the
    probed terms' document frequencies, never corpus size."""
    if num_buckets < 1 or files_per_bucket < 1:
        raise ValueError("num_buckets and files_per_bucket must be >= 1")
    from ..functions.text import doc_hash60, tokens

    postings = _postings_rows(docs, id_col=id_col, text_col=text_col)
    tb = F.pmod(doc_hash60(F.col("term")), F.lit(num_buckets)).alias("tb")
    (
        postings.withColumn("tb", tb)
        .repartitionByRange(num_buckets * files_per_bucket, "tb", "term")
        .sortWithinPartitions("tb", "term")
        .write.mode(mode)
        .partitionBy("tb")
        .parquet(path + "/postings")
    )
    docs.select(tokens(F.col(text_col)).alias("__t")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.size("__t")).cast("long").alias("sum_dl"),
    ).write.mode(mode).parquet(path + "/stats")


def read_postings_topk(
    spark: SparkSession,
    path: str,
    terms: list[str],
    *,
    topk: int,
    k1: float = 1.2,
    b: float = 0.75,
    num_buckets: int = 32,
) -> "DataFrame":
    """Probe the at-rest inverted index with a bag-of-words query ->
    top-``topk`` ``(doc_id, score)`` by BM25 (Lucene non-negative idf),
    score-identical to ``operators.retrieval.bm25_topk`` restricted to
    documents matching ≥ 1 query term (zero-score rows cannot exist in
    an inverted index — the one contract difference, and the right one
    for retrieval).

    The probed terms' hash buckets are computed driver-side (pure
    Python md5, no job), so the scan arrives with ``tb IN (...)``
    partition pruning AND ``term IN (...)`` file skipping already in
    place; per-term document frequencies fall out of the pruned scan
    itself (one combinable count), N/avgdl come from the 1-row stats
    side. Per-document parts are folded in SORTED TERM ORDER (an
    array_sort + left fold) so the float summation order is
    deterministic and engine-mirrorable, not partition-dependent.
    Top-k is a TakeOrderedAndProject — never a global sort.

    ``terms`` is a SET (bag-of-words): a duplicated term cannot be
    expressed by postings rows and would silently score once here but
    twice in ``bm25_topk``'s positional term list, so duplicates are
    rejected rather than quietly diverging between the two paths."""
    if not terms:
        raise ValueError("terms must be non-empty")
    if len(set(terms)) != len(terms):
        raise ValueError("terms must be distinct (set semantics)")
    if topk < 1:
        raise ValueError("topk must be >= 1")
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    buckets = sorted({h60(t) % num_buckets for t in terms})
    post = (
        spark.read.parquet(path + "/postings")
        .where(F.col("tb").isin(buckets) & F.col("term").isin(list(terms)))
    )
    stats = spark.read.parquet(path + "/stats")
    dfreq = post.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    norm = tf + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl
    )
    part = idf * tf * F.lit(k1 + 1.0) / norm
    scored = (
        post.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", part.alias("__part"))
    )
    folded = scored.groupBy("doc_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("term"), F.col("__part")))
                ),
                lambda s: s["__part"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("__score")
    )
    return (
        folded.select("doc_id", F.round(F.col("__score"), 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(topk)
    )


def append_postings_index(
    docs: "DataFrame",
    path: str,
    *,
    num_buckets: int = 32,
    files_per_bucket: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incremental maintenance for :func:`write_postings_index`: append
    the new batch's postings into the existing ``tb=`` layout and MERGE
    the stats row (exact BIGINT adds — the 1-row read is the only
    look at existing data; postings already on disk are never
    rewritten or rescanned).

    This is the ingest-time path: per batch, cost is the batch's own
    explode + groupBy + a bucket-ranged append, independent of index
    size. Term buckets are stable (hash60 % num_buckets, no
    re-balancing), so probes see old and new postings through the same
    pruned scan. Compaction of accumulated small files inside a bucket
    directory is :func:`write_compacted`'s job, the standing
    small-files answer — postings files are range-clustered on term at
    every append, so even uncompacted files keep tight min/max for
    file skipping."""
    if num_buckets < 1 or files_per_bucket < 1:
        raise ValueError("num_buckets and files_per_bucket must be >= 1")
    from ..functions.text import doc_hash60, tokens

    spark = docs.sparkSession
    old = spark.read.parquet(path + "/stats").first()
    postings = _postings_rows(docs, id_col=id_col, text_col=text_col)
    tb = F.pmod(doc_hash60(F.col("term")), F.lit(num_buckets)).alias("tb")
    (
        postings.withColumn("tb", tb)
        .repartitionByRange(num_buckets * files_per_bucket, "tb", "term")
        .sortWithinPartitions("tb", "term")
        .write.mode("append")
        .partitionBy("tb")
        .parquet(path + "/postings")
    )
    docs.select(tokens(F.col(text_col)).alias("__t")).agg(
        (F.count("*") + F.lit(int(old["n"]))).cast("long").alias("n"),
        (F.sum(F.size("__t")) + F.lit(int(old["sum_dl"])))
        .cast("long")
        .alias("sum_dl"),
    ).write.mode("overwrite").parquet(path + "/stats")


def read_phrase_match(
    spark: SparkSession,
    path: str,
    terms: list[str],
    *,
    num_buckets: int = 32,
) -> "DataFrame":
    """Exact PHRASE search off the at-rest positional postings ->
    ``(doc_id, n_occurrences)`` for documents containing the terms
    consecutively, in order.

    Classic positional-postings adjacency: the phrase occurs at
    position p iff p ∈ P₁ ∩ (P₂−1) ∩ … ∩ (Pₘ−(m−1)), computed as a
    chain of array_intersect over the per-term position lists the
    pruned scan already returns — no re-tokenization, no document
    text read. Scan cost is Σ df(term) over the phrase terms
    (PartitionFilters from driver-side term hashing + file skipping
    on the clustered term column), joined down to docs containing ALL
    terms (inner joins, rarest-term-bounded) before the intersect."""
    if not terms or len(terms) < 2:
        raise ValueError("read_phrase_match needs >= 2 terms")
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    buckets = sorted({h60(t) % num_buckets for t in terms})
    post = spark.read.parquet(path + "/postings").where(
        F.col("tb").isin(buckets) & F.col("term").isin(list(terms))
    )
    def shift_by(off: int):
        # closure, NOT a two-arg lambda with a bound default: pyspark
        # passes the array INDEX as a second lambda argument, silently
        # clobbering a default-bound value
        return lambda p: p - F.lit(off)

    legs = None
    for i, t in enumerate(terms):
        leg = post.where(F.col("term") == t).select(
            "doc_id",
            F.transform(F.col("positions"), shift_by(i)).alias(f"__p{i}"),
        )
        legs = leg if legs is None else legs.join(leg, "doc_id")
    inter = F.col("__p0")
    for i in range(1, len(terms)):
        inter = F.array_intersect(inter, F.col(f"__p{i}"))
    return (
        legs.select(
            "doc_id", F.size(inter).cast("long").alias("n_occurrences")
        )
        .where(F.col("n_occurrences") > 0)
    )
