"""Merge-on-read scan planning, shared by both table formats.

A read is planned from table metadata, never from the file system (the
Iceberg spec's "Scan Planning"): the caller resolves which data and
delete files are live, their sequence numbers, sizes, identity-partition
values and column eras, and :func:`plan_scan` turns that into ONE Spark
plan. A delete kind the metadata proves small is read on the driver,
through the table's file IO, and joined as a local relation; a larger
one is scanned by Spark. The native format (``RelativeTable``,
spark_table.py) and the Iceberg-v2 mirror (``read_iceberg``,
iceberg_export.py) each adapt their own metadata to its inputs; this
module imports neither of them.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# A delete build side is only broadcast while it provably fits in every
# executor (and the driver, which reads it and relays the broadcast):
# parquet decodes to roughly 5-10x its on-disk size, so cap the
# compressed bytes far below any sane spark.sql.autoBroadcastJoinThreshold.
# Below the cap the driver reads the delete files itself and the build
# side is a local relation — no Spark scan, listing or reader setup per
# delete kind. Above it the anti-join becomes a SHUFFLE_HASH join over a
# Spark scan instead — both sides partition by (file, pos) / equality key
# and the delete side is hash-built per partition, so the 100 TB probe
# side is never sorted (SMJ would) and no single JVM ever holds the
# whole delete set. Manifests carry each delete file's size (and, in the
# mirror, its exact record count), so the choice is made from metadata
# alone, before any read.
_BROADCAST_DELETE_MAX_BYTES = 32 << 20
_BROADCAST_DELETE_MAX_ROWS = 4_000_000


def _local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """A frame of driver-made rows, built from a pyarrow table: Spark
    plans it as a ``LocalTableScan`` inside the JVM and starts no Python
    worker. (``createDataFrame`` on a list of tuples makes a pickled-RDD
    relation that forks Python workers to unpickle it on every action.)
    ``schema`` is a StructType or a DDL string; values must already be
    of each field's Python type."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*:)?/*")


def _norm_path_py(p: str) -> str:
    """Scheme-insensitive rooted form of a recorded path (Python twin of
    ``_norm_path``: same regex, so driver-made keys and scan-time paths
    normalize identically)."""
    return "/" + _SCHEME_RE.sub("", p)


def _norm_path(c):
    """Scheme-insensitive path equality for position-delete matching:
    Spark's ``_metadata.file_path`` is a URI (file:///…) while delete
    files may record plain paths (or vice versa) — both normalize to a
    single rooted form before joining."""
    return F.concat(F.lit("/"), F.regexp_replace(c, _SCHEME_RE.pattern, ""))


def _norm_meta_path(c):
    """``_norm_path`` for ``_metadata.file_path``, which is additionally
    a percent-ENCODED URI (space -> %20, literal % -> %25 — e.g. a
    timestamp identity partition dir "th=... 00%3A00" arrives as
    "...%2000%253A00"). Decode once, then strip the scheme, so it
    matches the RAW path form the manifests and delete files record.
    url_decode is FORM decoding, which also turns a literal '+' into a
    space — but '+' is a legal URI path char the encoder leaves alone
    (plausible in identity partition dirs like tz=+00:00), so it is
    pre-protected as %2B before decoding."""
    return _norm_path(F.url_decode(F.regexp_replace(c, r"\+", "%2B")))


def _seq_tag(files: list[dict]):
    """Column tagging each row of a scan over ``files`` (planner inputs
    with ``path``/``seq``) with its file's sequence number, keyed on
    ``_metadata.file_path`` — a literal when they share one."""
    seqs = {_norm_path_py(d["path"]): d["seq"] for d in files}
    if len(set(seqs.values())) == 1:
        return F.lit(next(iter(seqs.values()))).cast("long")
    lookup = F.create_map(
        *[
            x
            for p, s in seqs.items()
            for x in (F.lit(p), F.lit(s).cast("long"))
        ]
    )
    return lookup[_norm_meta_path(F.col("_metadata.file_path"))]


def _file_side_table(
    spark: SparkSession, files: list[dict], identity: list[T.StructField]
) -> DataFrame:
    """One row per data file, keyed by its normalized path
    (``__ir_fp``): its data sequence number (``__ir_seq``) and its
    identity partition values (``__ir_i<n>``, of the value type
    ``identity`` declares)."""
    fields = [
        T.StructField("__ir_fp", T.StringType(), False),
        T.StructField("__ir_seq", T.LongType(), False),
    ] + [
        T.StructField(f"__ir_i{i}", f.dataType, True)
        for i, f in enumerate(identity)
    ]
    rows = {}
    for e in files:
        fp = _norm_path_py(e["path"])
        ident = e.get("ident", {})
        rows[fp] = (fp, e["seq"]) + tuple(ident.get(f.name) for f in identity)
    return _local_frame(spark, list(rows.values()), T.StructType(fields))


def _scan_schema(names: dict, types: dict) -> T.StructType:
    """Parquet read schema from table metadata: each physical name
    (``names``: physical name -> the field it holds) typed as that
    field, so no footer is sampled or merged. A name no file carries
    reads as NULL."""
    return T.StructType(
        [T.StructField(p, types[f], True) for p, f in names.items() if f]
    )


def _resolve_aliases(names):
    """One value from a field's physical names, coalesced in order (the
    current name first): each file holds at most one of them. None when
    there is no name."""
    cols = [F.col(p) for p in dict.fromkeys(names)]
    if len(cols) <= 1:
        return cols[0] if cols else None
    return F.coalesce(*cols)


def _scan_groups(eras: dict, used: list) -> list:
    """Split the eras in use between as few data scans as possible: in
    one scan a physical name holds one field in every file. A name that
    holds another field in another era (renamed, then re-added) or an
    unknown one (``other``: dropped, then re-added) would read the old
    era's values, or fail on their type. Returns ``[era keys,
    {physical name: field or None}]`` per scan; one unless a name was
    re-used."""
    groups: list = []
    for i in used:
        held = dict.fromkeys(eras[i].get("other", ()))
        for f, names in eras[i]["cols"].items():
            held.update(dict.fromkeys(names, f))
        for members, names in groups:
            if all(names.get(p, f) == f for p, f in held.items()):
                members.append(i)
                names.update(held)
                break
        else:
            groups.append([[i], held])
    return groups


def _fits_driver(dels: list[dict]) -> bool:
    """Whether a delete kind provably fits the driver and every
    executor, from the metadata's delete sizes alone."""
    rows = sum(d.get("rows", 0) for d in dels)
    nbytes = sum(d["bytes"] for d in dels)
    return rows <= _BROADCAST_DELETE_MAX_ROWS and nbytes <= _BROADCAST_DELETE_MAX_BYTES


def _pos_keys(read, dels: list[dict], file_seq: dict):
    """The position-delete build side, decided on the driver: every
    ``(file_path, pos)`` row of ``dels`` with its path normalized, kept
    only when its file is in the scan (``file_seq``: normalized path ->
    data sequence) at or below the delete's sequence (the spec's
    ``<=``). Paths are normalized once per distinct value."""
    import pyarrow as pa
    import pyarrow.compute as pc

    parts = []
    for d in dels:
        t = read(d, ["file_path", "pos"])
        paths = t.column("file_path")
        uniq = pc.unique(paths)
        norm = [p if p is None else _norm_path_py(p) for p in uniq.to_pylist()]
        keep = pa.array([file_seq.get(n, d["seq"] + 1) <= d["seq"] for n in norm])
        at = pc.index_in(paths, value_set=uniq)
        parts.append(
            pa.table(
                {
                    "__ir_dfp": pc.take(pa.array(norm, pa.string()), at),
                    "__ir_dpos": t.column("pos").cast(pa.int64()),
                }
            ).filter(pc.take(keep, at))
        )
    return pa.concat_tables(parts)


def _eq_keys(read, dels: list[dict], schema: T.StructType, scoped: bool):
    """An equality-delete build side, read on the driver: per delete
    file, key ``i`` under the first of ``names[i]`` the file holds
    (case-insensitively, as Spark resolves parquet columns; none reads
    NULL), cast through Arrow to ``schema``'s key type, plus the
    delete's sequence as ``__ir_dseq`` when ``scoped``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    parts = []
    for d in dels:
        t = read(d, None)
        held = {n.lower(): n for n in t.column_names}
        cols = []
        for names, f in zip(d["names"], arrow):
            p = next((held[n.lower()] for n in names if n.lower() in held), None)
            cols.append(t.column(p).cast(f.type) if p else pa.nulls(t.num_rows, f.type))
        if scoped:
            cols.append(pa.nulls(t.num_rows, pa.int64()).fill_null(d["seq"]))
        parts.append(pa.Table.from_arrays(cols, schema=arrow))
    return pa.concat_tables(parts)


def plan_scan(
    spark: SparkSession,
    fields: list[T.StructField],
    files: list[dict],
    deletes: list[dict],
    eras: dict,
    read,
    identity: list[T.StructField] = (),
    with_positions: bool = False,
) -> DataFrame:
    """Plan a merge-on-read scan as one Spark plan.

    - ``fields``: the output schema, in order.
    - ``files``: per data file, ``path`` (as Spark reads it), ``seq``
      (data sequence number), ``era`` (key into ``eras``) and
      optionally ``ident`` ({field: identity partition value}).
    - ``eras``: ``cols`` maps a field to the physical names it sits
      under in the era's files, coalesced in order (none: the files
      predate it, NULL); ``other`` lists names held for no current
      field (dropped columns).
    - ``deletes``: per delete file, ``kind`` (``"pos"``/``"eq"``),
      ``path`` (as Spark reads it), ``seq``, ``bytes``, optionally
      ``rows``, and for an equality delete its key fields ``cols`` and
      their physical ``names`` (one list of candidates per key).
    - ``read(delete, columns)``: a delete file's contents as a pyarrow
      Table (``columns`` None: every column), through the table's
      file IO.
    - ``identity``: the fields ``ident`` restores, declared with the
      type of its values; a file without a value keeps its column.

    One parquet scan reads every data file (unless eras re-use a name,
    see ``_scan_groups``). Each delete kind — position deletes,
    equality deletes per key set — is applied by one left-anti join
    whose condition carries the spec's scoping: an equality delete to
    files with a strictly smaller sequence, matching NULL keys as equal
    (the spec's ``IS NULL`` rule); a position delete to files at or
    below its own, matched on ``_metadata.row_index`` (the spec's
    ``pos``). A kind within ``_BROADCAST_DELETE_MAX_*`` is read here,
    on the driver, and broadcast as a local relation built from Arrow:
    position deletes are pruned to the scan's files and their ``<=``
    rule, so they join on (file, pos) alone, and a kind left empty
    joins nothing. A larger kind is one Spark scan, tagged with each
    row's delete sequence, under a shuffled hash join. Sequence
    numbers and identity values attach through one broadcast side
    table built from Arrow, so no Python worker starts; it is left out
    when no join needs a sequence condition and nothing is restored.
    Deletes that scope no file are never read.

    ``with_positions`` adds ``__ir_fp`` (normalized path) and
    ``__ir_pos`` (row ordinal) to the output."""
    internal = [
        T.StructField("__ir_fp", T.StringType(), False),
        T.StructField("__ir_pos", T.LongType(), False),
    ] if with_positions else []
    if not files:
        return _local_frame(spark, [], T.StructType(list(fields) + internal))
    types = {f.name: f.dataType for f in fields}

    seqs = [e["seq"] for e in files]
    lo, hi = min(seqs), max(seqs)
    dseq = T.StructField("__ir_dseq", T.LongType(), False)
    # per delete kind: (build side, anti-join condition, driver-built,
    # whether the condition reads the data file's __ir_seq)
    joins = []

    live_pos = [d for d in deletes if d["kind"] == "pos" and d["seq"] >= lo]
    pos_cond = (F.col("__ir_fp") == F.col("__ir_dfp")) & (
        F.col("__ir_pos") == F.col("__ir_dpos")
    )
    if live_pos and _fits_driver(live_pos):
        file_seq = {_norm_path_py(e["path"]): e["seq"] for e in files}
        keys = _pos_keys(read, live_pos, file_seq)
        if keys.num_rows:
            schema = T.StructType.fromDDL("__ir_dfp string, __ir_dpos long")
            joins.append((spark.createDataFrame(keys, schema), pos_cond, True, False))
    elif live_pos:
        # no .distinct(): anti-join is set semantics, so duplicate
        # (file, pos) rows (the spec allows re-deletion) are harmless,
        # and a distinct would cost an extra Exchange of the delete set
        # in the shuffle path. The schema is the spec's fixed one, so
        # no footer is sampled.
        scan = spark.read.schema("file_path string, pos long").parquet(
            *[d["path"] for d in live_pos]
        )
        dkeys = [
            _norm_path(F.col("file_path")).alias("__ir_dfp"),
            F.col("pos").alias("__ir_dpos"),
        ]
        scoped = any(d["seq"] < hi for d in live_pos)
        if scoped:
            dkeys.append(_seq_tag(live_pos).alias("__ir_dseq"))
            pos_cond = pos_cond & (F.col("__ir_dseq") >= F.col("__ir_seq"))
        joins.append((scan.select(*dkeys), pos_cond, False, scoped))
    has_pos = bool(joins)

    eq_sets: dict[tuple, list[dict]] = {}
    for d in deletes:
        if d["kind"] == "eq" and d["seq"] > lo:
            eq_sets.setdefault(tuple(d["cols"]), []).append(d)
    for cols, dels in eq_sets.items():
        scoped = any(d["seq"] <= hi for d in dels)
        keys = [f"__ir_k{i}" for i in range(len(cols))]
        conds = [F.col(c).eqNullSafe(F.col(k)) for c, k in zip(cols, keys)]
        if scoped:
            conds.append(F.col("__ir_dseq") > F.col("__ir_seq"))
        cond = reduce(lambda a, b: a & b, conds)
        if _fits_driver(dels):
            schema = T.StructType(
                [T.StructField(k, types[c]) for c, k in zip(cols, keys)]
                + ([dseq] if scoped else [])
            )
            table = _eq_keys(read, dels, schema, scoped)
            if table.num_rows:
                joins.append((spark.createDataFrame(table, schema), cond, True, scoped))
            continue
        # a key column renamed between delete files sits under another
        # physical name in each; the scan reads every one of them
        key_names = [[p for d in dels for p in d["names"][i]] for i in range(len(cols))]
        scan = spark.read.schema(
            _scan_schema({p: c for c, ns in zip(cols, key_names) for p in ns}, types)
        ).parquet(*[d["path"] for d in dels])
        if scoped:
            # tagged on the raw scan, where _metadata still resolves
            scan = scan.select("*", _seq_tag(dels).alias("__ir_dseq"))
        dkeys = [_resolve_aliases(ns).alias(k) for ns, k in zip(key_names, keys)]
        if scoped:
            dkeys.append(F.col("__ir_dseq"))
        joins.append((scan.select(*dkeys), cond, False, scoped))

    side = bool(identity) or any(scoped for *_, scoped in joins)
    side_table = F.broadcast(_file_side_table(spark, files, identity)) if side else None
    restore = {f.name: i for i, f in enumerate(identity)}

    parts = []
    for members, names in _scan_groups(eras, sorted({e["era"] for e in files})):
        data = spark.read.schema(_scan_schema(names, types)).parquet(
            *[e["path"] for e in files if e["era"] in members]
        )
        # provenance is captured on the raw scan, where _metadata
        # resolves; __ir_fp also keys the side table
        prov = []
        if side or has_pos or with_positions:
            prov.append(
                _norm_meta_path(F.col("_metadata.file_path")).alias("__ir_fp")
            )
        if has_pos or with_positions:
            prov.append(F.col("_metadata.row_index").alias("__ir_pos"))
        if prov:
            data = data.select("*", *prov)
        if side:
            data = data.join(side_table, "__ir_fp", "left")
        out = []
        for f in fields:
            value = _resolve_aliases(
                p for e in members for p in eras[e]["cols"].get(f.name, ())
            )
            if value is None:  # added after every file of the scan
                value = F.lit(None).cast(f.dataType)
            if f.name in restore:
                # identity values are restored BEFORE deletes apply — a
                # delete keyed on a partition column is legal
                side_value = F.col(f"__ir_i{restore[f.name]}").cast(f.dataType)
                value = F.coalesce(side_value, value)
            out.append(value.alias(f.name))
        keep = [c for c in ("__ir_fp", "__ir_pos", "__ir_seq") if c in data.columns]
        parts.append(data.select(*out, *keep))
    data = reduce(DataFrame.unionByName, parts)

    for build, cond, local, _ in joins:
        build = F.broadcast(build) if local else build.hint("shuffle_hash")
        data = data.join(build, cond, "left_anti")

    return data.select(*[f.name for f in fields + internal])


def net_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """The NET multiset row diff from ``old`` to ``new``: one output row
    per changed row value with ``_change_type`` (``INSERT``/``DELETE``)
    and ``_n`` (copies appeared/vanished). Rows compare under ``new``'s
    columns — one ``old`` lacks reads as NULL — in a single hash
    aggregation keyed on the full row."""
    cols = new.columns
    old = old.select(*[c for c in cols if c in old.columns])
    tagged = new.withColumn("_w", F.lit(1)).unionByName(
        old.withColumn("_w", F.lit(-1)), allowMissingColumns=True
    )
    net = tagged.groupBy(*cols).agg(F.sum("_w").alias("_net")).filter(F.col("_net") != 0)
    return net.select(
        *cols,
        F.when(F.col("_net") > 0, F.lit("INSERT"))
        .otherwise(F.lit("DELETE"))
        .alias("_change_type"),
        F.abs(F.col("_net")).cast("long").alias("_n"),
    )
