"""Table storage: manifest-committed, key-bucketed parquet tables.

The reference persists to Postgres with upserts
(PostgresTranscriptRepository.scala:39-58 ``INSERT ... ON CONFLICT(id) DO
UPDATE``), deletes lexical segments by transcript before re-indexing
(OpenSearchAdapter.scala:147-181), and tolerates replays (J7).  On a lake
the same semantics are Iceberg ``MERGE INTO`` / row-level deletes; this
container has no Iceberg runtime, so this module implements the same
contract — including Iceberg's snapshot-atomicity — over plain parquet
plus a tiny manifest layer:

* rows are bucketed by ``pmod(xxhash64(bucket_col), n_buckets)``; the
  bucket column is the FIRST key column (the entity id, e.g. ``doc_id``),
  so full-key upserts and entity-level deletes (S10: delete-all-segments-
  of-transcript) prune to the same buckets;
* each write commit lands its rows under a fresh, uniquely named data
  directory (``data/<commit>/_kb=<b>/``) — **existing files are never
  rewritten, moved, or deleted by a commit**, which is exactly the
  object-store-safe discipline (no read-modify-write of live objects, no
  directory renames);
* the current snapshot is a JSON **manifest** (``_manifests/v<N>.json``)
  mapping every live bucket to its one data directory, plus the layout
  (n_buckets, bucket column) and the table schema.  A commit writes the
  new data dirs, then publishes manifest vN+1 via a single atomic rename
  — the Iceberg commit protocol in miniature.  A crash anywhere before
  the rename leaves readers on the old consistent snapshot (cross-bucket
  atomicity, previously a documented gap);
* ``upsert_by_key`` / ``delete_by_key`` read ONLY the manifest dirs of
  buckets containing incoming keys and write ONLY those buckets' new
  dirs: a 1-row upsert into a 10k-bucket 100 TB table reads and rewrites
  ~1/10k of it.  Both are idempotent — replaying a batch converges (J7);
* layout metadata lives INSIDE the manifest (not a sidecar), so it is
  committed atomically with the first data write — a table can never
  exist with data but no layout record;
* superseded data dirs stay on storage as older snapshots (time travel
  for free); ``vacuum`` drops everything unreferenced by the latest
  manifest.

Concurrency: optimistic compare-and-publish.  Each commit pins the
snapshot version it was derived from; if another writer published in
between, the commit is REJECTED (never a lost update — the reference
serializes the same hazard with Postgres row locks) and the batch
retries against the fresh snapshot (bounded by ``max_commit_retries``).
On S3 proper the rename becomes a conditional PUT (see
fsio.rename_atomic).

All filesystem access goes through :mod:`srag_spark.sources.fsio`
(Hadoop FileSystem API) — no ``os`` / ``shutil`` / ``open()`` anywhere,
so the sink runs unchanged on HDFS / S3A / GCS.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from srag_spark.functions.plan import local_frame
from srag_spark.sources import fsio

BUCKET_COL = "_kb"
DEFAULT_KEY_BUCKETS = 64
_MANIFEST_DIR = "_manifests"


def _key_bucket(bucket_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(bucket_col), F.lit(n_buckets)).cast("int")


# ---------------------------------------------------------------------------
# manifest protocol
# ---------------------------------------------------------------------------
def _manifest_path(path: str, version: int) -> str:
    return f"{path}/{_MANIFEST_DIR}/v{version:010d}.json"


def latest_manifest_version(spark: SparkSession, path: str) -> int | None:
    names = fsio.list_names(spark, f"{path}/{_MANIFEST_DIR}")
    versions = [
        int(n[1:-5])
        for n in names
        if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit()
    ]
    return max(versions) if versions else None


def read_manifest(
    spark: SparkSession, path: str, version: int | None = None
) -> dict | None:
    """A committed snapshot — the latest, or a specific ``version`` (time
    travel: every snapshot stays readable until vacuumed).  None if the
    table does not exist; raises for an explicitly requested version that
    is absent."""
    v = latest_manifest_version(spark, path) if version is None else version
    if v is None:
        return None
    try:
        m = json.loads(fsio.read_text(spark, _manifest_path(path, v)))
    except Exception as exc:
        raise FileNotFoundError(
            f"no manifest v{v} at {path} (vacuumed or never committed)"
        ) from exc
    m["version"] = v
    return m


class ManifestCommitRace(RuntimeError):
    """A concurrent writer published the version this commit targeted.
    The batch is retried from a fresh manifest read (optimistic
    concurrency); the loser's data dirs become vacuumable garbage."""


def commit_manifest(
    spark: SparkSession, path: str, manifest: dict, expected_prev: int | None = None
) -> None:
    """Publish the next snapshot: write to a temp object, then one atomic
    rename to ``v<N+1>.json``.  THE commit point — everything before this
    call is invisible to readers.  ``expected_prev`` pins the snapshot
    this commit was derived FROM: if another writer committed in between
    (either the listing moved past it, or the rename target exists), the
    commit fails with :class:`ManifestCommitRace` instead of publishing a
    lost update."""
    prev = latest_manifest_version(spark, path)
    if expected_prev is not None and (prev or 0) != expected_prev:
        raise ManifestCommitRace(
            f"table at {path} moved to v{prev} while this batch was derived "
            f"from v{expected_prev}"
        )
    version = (prev or 0) + 1
    manifest = {k: v for k, v in manifest.items() if k != "version"}
    tmp = f"{path}/{_MANIFEST_DIR}/.tmp-{uuid.uuid4().hex}.json"
    fsio.write_text(spark, tmp, json.dumps(manifest, sort_keys=True))
    if not fsio.rename_atomic(spark, tmp, _manifest_path(path, version)):
        fsio.delete(spark, tmp, recursive=False)
        raise ManifestCommitRace(
            f"manifest commit v{version} at {path} lost the rename race"
        )


def table_exists(spark: SparkSession, path: str) -> bool:
    return latest_manifest_version(spark, path) is not None


# ---------------------------------------------------------------------------
# read path
# ---------------------------------------------------------------------------
def _bucket_dirs(path: str, manifest: dict, buckets=None) -> list[str]:
    live = manifest["buckets"]
    keys = live.keys() if buckets is None else (str(b) for b in buckets)
    return [f"{path}/{live[k]}" for k in sorted(keys, key=int) if k in live]


def read_table(
    spark: SparkSession,
    path: str,
    buckets: list[int] | None = None,
    version: int | None = None,
    tag: str | None = None,
) -> DataFrame:
    """Read a snapshot — the latest, time-travel to ``version``, or a
    named ``tag`` (optionally pruned to specific buckets — the
    manifest-level partition pruning used by upsert/delete)."""
    if tag is not None:
        if version is not None:
            raise ValueError("pass version= or tag=, not both")
        version = resolve_tag(spark, path, tag)
    manifest = read_manifest(spark, path, version=version)
    if manifest is None:
        raise FileNotFoundError(f"no table (no committed manifest) at {path}")
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    dirs = _bucket_dirs(path, manifest, buckets)
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*dirs)


def lookup_by_key(
    spark: SparkSession,
    path: str,
    values: list[str],
    version: int | None = None,
) -> DataFrame:
    """Point lookup (S6) that PRUNES to the key buckets: the manifest's
    bucket layout (``pmod(xxhash64(key), n)``) is evaluated for the
    requested key values over a local relation (constant-folded on the
    driver, no Spark job), and only those buckets' dirs are scanned — a
    lookup on a 100 TB table reads ~1/n_buckets of it (then parquet
    row-group stats narrow further), instead of the full scan a plain
    ``read_table().filter()`` plans.
    Returns the matching rows (all rows of a multi-row key).  Keys are
    matched on the table's FIRST key column (the bucket column)."""
    manifest = read_manifest(spark, path, version=version)
    if manifest is None:
        raise FileNotFoundError(f"no table (no committed manifest) at {path}")
    bcol = manifest["bucket_col"]
    n = manifest["n_buckets"]
    vals = sorted(set(values))
    keys = local_frame(spark, [(v,) for v in vals], StructType.fromDDL(f"{bcol} string"))
    buckets = [r[0] for r in keys.select(_key_bucket(bcol, n)).collect()]
    return read_table(
        spark, path, buckets=sorted(set(buckets)), version=manifest["version"]
    ).filter(F.col(bcol).isin(vals))


# ---------------------------------------------------------------------------
# write path
# ---------------------------------------------------------------------------
def _layout(manifest: dict | None, key_cols: list[str], n_buckets: int):
    if manifest is not None:
        n, col = manifest["n_buckets"], manifest["bucket_col"]
        if col not in key_cols:
            raise ValueError(
                f"table is bucketed by {col!r}; keys {key_cols} must "
                "include it for partition-scoped rewrites"
            )
        return n, col
    return n_buckets, key_cols[0]


def _merge_schemas(old: StructType, incoming: StructType) -> StructType:
    """Schema evolution on upsert (Iceberg add-column semantics): the
    merged schema is the table's fields in their existing order, then
    any NEW incoming fields appended as nullable.  An incoming batch may
    also OMIT table columns (they fill with null).  A same-name field
    with a different type is rejected — type changes are not implicit.
    """
    inc = {f.name: f for f in incoming.fields}
    for f in old.fields:
        g = inc.get(f.name)
        # simpleString ignores nullability (incl. nested containsNull /
        # valueContainsNull), which unionByName has always relaxed —
        # only genuine TYPE changes are rejected.  The merged schema
        # keeps the OLD field, so nullability stays as committed.
        if g is not None and g.dataType.simpleString() != f.dataType.simpleString():
            raise ValueError(
                f"schema evolution cannot change column {f.name!r} from "
                f"{f.dataType.simpleString()} to {g.dataType.simpleString()}"
            )
    merged = list(old.fields)
    seen = {f.name for f in old.fields}
    for f in incoming.fields:
        if f.name not in seen:
            merged.append(
                type(f)(f.name, f.dataType, True)  # new columns are nullable
            )
    return StructType(merged)


def _align(df: DataFrame, schema: StructType) -> DataFrame:
    """Project ``df`` onto ``schema``'s column order, filling columns the
    frame lacks with typed nulls."""
    have = set(df.columns)
    return df.select(
        *[
            F.col(f.name) if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def _write_buckets(df: DataFrame, path: str, commit_id: str) -> str:
    """Write rows (already carrying BUCKET_COL) under a fresh commit dir,
    one subdirectory per bucket, via Spark's committed parquet write."""
    data_dir = f"{path}/data/{commit_id}"
    df.write.partitionBy(BUCKET_COL).parquet(data_dir)
    return data_dir


def upsert_by_key(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    key_cols: list[str],
    n_buckets: int = DEFAULT_KEY_BUCKETS,
    max_commit_retries: int = 2,
    persist_incoming: bool = True,
) -> None:
    """MERGE-INTO-equivalent: replace rows matching incoming keys, insert
    the rest (right-biased upsert, S4 semantics).  Reads and rewrites ONLY
    the key-hash buckets touched by ``incoming``; publishes atomically via
    the manifest.  Because merged buckets are written to a NEW directory
    (never the one being read), no lineage break / checkpoint is needed
    and a mid-write crash leaves the old snapshot intact.

    SCHEMA EVOLUTION (Iceberg add-column semantics): an incoming batch
    with extra columns widens the table — new columns append as nullable
    and existing rows read as null for them (untouched buckets are NOT
    rewritten; the explicit-schema parquet read fills the gap).  A batch
    missing table columns fills them with typed nulls.  Changing an
    existing column's type is rejected.

    In-batch key duplicates are collapsed to ONE row before merging, so
    the table keeps the primary-key uniqueness the reference's ``INSERT
    ... ON CONFLICT(id) DO UPDATE`` guarantees
    (PostgresTranscriptRepository.scala:39-58).  Which duplicate survives
    is unspecified (SQL statement order does not exist on an unordered
    DataFrame); it is deterministic when the duplicates are identical
    rows — the replay case.

    The (deduplicated) incoming plan is consumed by up to three actions
    (touched-bucket scan, anti-join key distinct, merged write), so it is
    persisted MEMORY_AND_DISK for the duration of the call and released
    after — without this, an expensive upstream (the Python parse kernel,
    the embedding UDF) re-executes per action.  ``persist_incoming=False``
    opts out for trivially cheap plans (e.g. a bare parquet scan).

    Optimistic concurrency: if another writer commits between this
    batch's manifest read and its commit, the commit is rejected (never a
    lost update) and the whole batch retries against the fresh snapshot,
    up to ``max_commit_retries`` times — the reference's Postgres row
    locks replaced by compare-and-publish."""
    from pyspark import StorageLevel

    incoming = incoming.dropDuplicates(key_cols)
    if persist_incoming:
        incoming.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        for attempt in range(max_commit_retries + 1):
            try:
                return _upsert_once(spark, path, incoming, key_cols, n_buckets)
            except ManifestCommitRace:
                if attempt == max_commit_retries:
                    raise
    finally:
        if persist_incoming:
            incoming.unpersist(blocking=False)


def _prepare_upsert(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    key_cols: list[str],
    n_buckets: int,
) -> dict:
    """The shared write half of an upsert: merge ``incoming`` against the
    current snapshot and land the merged buckets under a fresh commit dir,
    WITHOUT publishing.  Returns everything a publisher (direct commit or
    WAP staging) needs::

        {"body": <manifest body>, "expected_prev": <base version>,
         "touched": [bucket ids], "base_touched_dirs": {bucket: dir|None}}

    The data dirs are invisible to readers until some manifest references
    them — this is exactly the property write–audit–publish exploits."""
    manifest = read_manifest(spark, path)
    expected_prev = manifest["version"] if manifest is not None else 0
    n_buckets, bcol = _layout(manifest, key_cols, n_buckets)
    inc = incoming.withColumn(BUCKET_COL, _key_bucket(bcol, n_buckets))
    commit_id = f"c{uuid.uuid4().hex}"

    if manifest is None:
        # initial load: write once, derive the bucket set from the
        # committed directories (no second execution of the incoming plan)
        data_dir = _write_buckets(inc, path, commit_id)
        touched = _buckets_in_commit(spark, data_dir)
        body = {
            "n_buckets": n_buckets,
            "bucket_col": bcol,
            "key_cols": list(key_cols),
            "schema": incoming.schema.json(),
            "buckets": {
                str(b): f"data/{commit_id}/{BUCKET_COL}={b}" for b in touched
            },
        }
        return {
            "body": body,
            "expected_prev": expected_prev,
            "touched": sorted(touched),
            "base_touched_dirs": {str(b): None for b in touched},
        }
    # incremental: the touched-bucket set drives manifest-level pruning of
    # the read side, so it must be known BEFORE the merge (one pass over
    # incoming's bucket column — tiny projection)
    touched = sorted(
        r[0] for r in inc.select(BUCKET_COL).distinct().collect()
    )

    # schema evolution (Iceberg add-column semantics): new incoming
    # columns widen the table schema as nullable; incoming batches may
    # omit table columns (filled with typed nulls); type changes are
    # rejected in _merge_schemas.  Untouched buckets' parquet files
    # simply lack the new columns — Spark's explicit-schema parquet read
    # returns null for them, so no rewrite of untouched data is needed.
    old_schema = StructType.fromJson(json.loads(manifest["schema"]))
    merged = _merge_schemas(old_schema, incoming.schema)

    # manifest-level pruning: read only touched buckets' live dirs
    existing = _align(read_table(spark, path, buckets=touched), merged)
    # incoming keys are unique (dropDuplicates in upsert_by_key), so the
    # anti-join side needs no extra distinct aggregation
    kept = existing.join(
        incoming.select(*key_cols), key_cols, "left_anti"
    ).withColumn(BUCKET_COL, _key_bucket(bcol, n_buckets))
    inc_aligned = _align(incoming, merged).withColumn(
        BUCKET_COL, _key_bucket(bcol, n_buckets)
    )
    _write_buckets(kept.unionByName(inc_aligned), path, commit_id)
    buckets = dict(manifest["buckets"])
    base_touched_dirs = {str(b): buckets.get(str(b)) for b in touched}
    for b in touched:  # every touched bucket has ≥1 incoming row
        buckets[str(b)] = f"data/{commit_id}/{BUCKET_COL}={b}"
    body = {
        "n_buckets": n_buckets,
        "bucket_col": bcol,
        "key_cols": manifest.get("key_cols", list(key_cols)),
        "sort_by": manifest.get("sort_by"),
        "zorder_by": manifest.get("zorder_by"),
        "stats": _carry_stats(manifest, touched),
        "schema": merged.json(),
        "buckets": buckets,
    }
    return {
        "body": body,
        "expected_prev": expected_prev,
        "touched": touched,
        "base_touched_dirs": base_touched_dirs,
    }


def _upsert_once(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    key_cols: list[str],
    n_buckets: int,
) -> None:
    prep = _prepare_upsert(spark, path, incoming, key_cols, n_buckets)
    commit_manifest(
        spark, path, prep["body"], expected_prev=prep["expected_prev"]
    )


def delete_by_key(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_cols: list[str],
    max_commit_retries: int = 2,
) -> None:
    """Row-level delete: drop rows whose key appears in ``keys`` (S10).
    ``key_cols`` may be a key prefix as long as it includes the table's
    bucket column.  Emptied buckets simply leave the manifest — no
    directory deletion on the data path (old dirs age out via vacuum).
    Same optimistic-concurrency retry as :func:`upsert_by_key`."""
    for attempt in range(max_commit_retries + 1):
        try:
            return _delete_once(spark, path, keys, key_cols)
        except ManifestCommitRace:
            if attempt == max_commit_retries:
                raise


def _delete_once(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_cols: list[str],
) -> None:
    manifest = read_manifest(spark, path)
    if manifest is None:
        return
    n_buckets, bcol = _layout(manifest, key_cols, DEFAULT_KEY_BUCKETS)
    keyed = keys.select(*key_cols).distinct().withColumn(
        BUCKET_COL, _key_bucket(bcol, n_buckets)
    )
    touched = sorted(
        {r[0] for r in keyed.select(BUCKET_COL).distinct().collect()}
        & {int(b) for b in manifest["buckets"]}
    )
    if not touched:
        return
    existing = read_table(spark, path, buckets=touched)
    remaining = existing.join(
        keyed.drop(BUCKET_COL), key_cols, "left_anti"
    ).withColumn(BUCKET_COL, _key_bucket(bcol, n_buckets))
    _commit_touched_rewrite(spark, path, manifest, touched, remaining)


def _commit_touched_rewrite(
    spark: SparkSession,
    path: str,
    manifest: dict,
    touched: list[int],
    remaining: DataFrame,
) -> None:
    """Shared delete-path tail: write the touched buckets' remaining rows
    under a fresh commit dir, drop emptied buckets from the snapshot, and
    publish — pinned to the manifest the caller derived ``remaining``
    from (compare-and-publish)."""
    commit_id = f"c{uuid.uuid4().hex}"
    _write_buckets(remaining, path, commit_id)
    surviving = set(_buckets_in_commit(spark, f"{path}/data/{commit_id}"))
    buckets = dict(manifest["buckets"])
    for b in touched:
        if b in surviving:
            buckets[str(b)] = f"data/{commit_id}/{BUCKET_COL}={b}"
        else:
            buckets.pop(str(b), None)  # bucket emptied → drop from snapshot
    commit_manifest(
        spark,
        path,
        {
            "n_buckets": manifest["n_buckets"],
            "bucket_col": manifest["bucket_col"],
            "key_cols": manifest.get("key_cols"),
            "sort_by": manifest.get("sort_by"),
            "zorder_by": manifest.get("zorder_by"),
            "stats": _carry_stats(manifest, touched),
            "schema": manifest["schema"],
            "buckets": buckets,
        },
        expected_prev=manifest["version"],
    )


def delete_where(
    spark: SparkSession,
    path: str,
    condition,
    max_commit_retries: int = 2,
) -> int:
    """Predicate delete (Iceberg ``DELETE FROM ... WHERE`` semantics):
    drop every row matching ``condition`` (a Column or SQL string),
    rewriting ONLY the buckets that contain matches.  Generalizes
    :func:`delete_by_key` from key lists to arbitrary row predicates —
    the reference's delete-by-query surface (S10,
    OpenSearchAdapter.scala:147-181) without requiring the caller to
    enumerate keys first.  Returns the number of rows deleted.

    Scale shape: one scan finds the matching buckets (Catalyst pushes
    the predicate into the parquet scan where it is pushdown-eligible;
    only bucket ids reach the driver), then only those buckets' live
    dirs are re-read and rewritten — a selective predicate on a 10k-
    bucket table rewrites just the buckets it touches.  Emptied buckets
    leave the snapshot like :func:`delete_by_key`.  Same optimistic
    compare-and-publish retry as every other writer."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    for attempt in range(max_commit_retries + 1):
        try:
            return _delete_where_once(spark, path, cond)
        except ManifestCommitRace:
            if attempt == max_commit_retries:
                raise


def _delete_where_once(spark: SparkSession, path: str, cond) -> int:
    manifest = read_manifest(spark, path)
    if manifest is None:
        return 0
    n_buckets, bcol = manifest["n_buckets"], manifest["bucket_col"]

    # pass 1: which buckets hold matches, and how many rows die (tiny
    # grouped result — bucket ids + counts only reach the driver)
    full = read_table(spark, path).withColumn(
        BUCKET_COL, _key_bucket(bcol, n_buckets)
    )
    hit = {
        r[0]: r[1]
        for r in full.filter(cond).groupBy(BUCKET_COL).count().collect()
    }
    touched = sorted(b for b in hit if str(b) in manifest["buckets"])
    if not touched:
        return 0

    # pass 2: rewrite only the touched buckets without their matches
    remaining = (
        read_table(spark, path, buckets=touched)
        .filter(~F.coalesce(cond, F.lit(False)))
        .withColumn(BUCKET_COL, _key_bucket(bcol, n_buckets))
    )
    _commit_touched_rewrite(spark, path, manifest, touched, remaining)
    return int(sum(hit.values()))


def _buckets_in_commit(spark: SparkSession, data_dir: str) -> list[int]:
    """Bucket ids physically present under a commit dir (FS listing — no
    second Spark job over row data; a bucket whose rows all died simply
    has no directory)."""
    return [
        int(name.split("=", 1)[1])
        for name in fsio.list_names(spark, data_dir)
        if name.startswith(f"{BUCKET_COL}=")
    ]


def snapshot_diff(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Changelog between two snapshots (Iceberg incremental / CDC read):
    one row per key whose state changed from ``from_version`` to
    ``to_version`` (default: latest), with ``change_type`` ∈
    {'insert', 'update', 'delete'} — inserts/updates carry the TO-side
    row (post-image), deletes the FROM-side row (pre-image).  This is
    what incremental downstream jobs consume: re-embed only the
    documents an upsert touched, retract only the deleted ones —
    instead of re-reading 100 TB per refresh.

    Keys come from the manifest (recorded at first commit); pass
    ``key_cols`` explicitly only for tables created before key
    recording.  Under schema evolution both sides align to the TO
    schema (pre-evolution rows read as null in new columns, so adding
    a column does NOT by itself mark every row updated unless its
    value actually differs from null).

    Scale shape: both snapshots read only their manifest dirs; the
    comparison is ONE full-outer join on the table key — co-bucketed
    on both sides when the layout is unchanged between the versions —
    with null-safe struct equality on the non-key columns.  Nothing
    driver-side."""
    m_to = read_manifest(spark, path, version=to_version)
    if m_to is None:
        raise FileNotFoundError(f"no table (no committed manifest) at {path}")
    if from_version > m_to["version"]:
        raise ValueError(
            f"snapshot_diff window is inverted: from v{from_version} > "
            f"to v{m_to['version']} — swap the arguments"
        )
    keys = list(key_cols) if key_cols else m_to.get("key_cols")
    if not keys:
        raise ValueError(
            f"table at {path} predates key recording — pass key_cols="
        )
    to_schema = StructType.fromJson(json.loads(m_to["schema"]))
    old = _align(read_table(spark, path, version=from_version), to_schema)
    new = _align(read_table(spark, path, version=m_to["version"]), to_schema)
    val_cols = [c for c in to_schema.fieldNames() if c not in keys]

    # MAP columns are not comparable (no ordering); canonicalize them to
    # key-sorted entry arrays for the null-safe equality — the values
    # emitted in the output rows stay the original maps.  The separate
    # comparison struct is built ONLY when a map column exists; for
    # map-free schemas (e.g. the embeddings table) the value struct is
    # compared directly, so the join never ships each row's payload
    # twice through the shuffle.
    from pyspark.sql.types import MapType

    has_map = any(
        isinstance(to_schema[c].dataType, MapType) for c in val_cols
    )

    def cmp_col(name):
        if isinstance(to_schema[name].dataType, MapType):
            return F.sort_array(F.map_entries(F.col(name))).alias(name)
        return F.col(name)

    def side(df, tag):
        if not val_cols:  # key-only table: no values
            vals = [F.lit(0).alias(f"_v{tag}"), F.lit(0).alias(f"_c{tag}")]
        elif has_map:
            vals = [
                F.struct(*val_cols).alias(f"_v{tag}"),
                F.struct(*[cmp_col(c) for c in val_cols]).alias(f"_c{tag}"),
            ]
        else:
            v = F.struct(*val_cols)
            vals = [v.alias(f"_v{tag}"), v.alias(f"_c{tag}")]
        return df.select(*keys, *vals, F.lit(True).alias(f"_in{tag}"))

    j = side(old, "o").join(side(new, "n"), keys, "full_outer")
    change = (
        F.when(F.col("_ino").isNull(), F.lit("insert"))
        .when(F.col("_inn").isNull(), F.lit("delete"))
        .when(~F.col("_co").eqNullSafe(F.col("_cn")), F.lit("update"))
    )
    image = F.when(F.col("_inn").isNotNull(), F.col("_vn")).otherwise(F.col("_vo"))
    out = j.select(
        *keys,
        change.alias("change_type"),
        *([image.alias("_img")] if val_cols else []),
    ).filter(F.col("change_type").isNotNull())
    if val_cols:
        out = out.select(
            *keys, *[F.col("_img")[c].alias(c) for c in val_cols], "change_type"
        )
    return out


# ---------------------------------------------------------------------------
# maintenance
# ---------------------------------------------------------------------------
def rewrite_table(
    spark: SparkSession,
    path: str,
    n_buckets: int | None = None,
    sort_by: list[str] | None = None,
    stats_for: list[str] | None = None,
    zorder_by: list[str] | None = None,
    max_commit_retries: int = 2,
) -> dict:
    """Compaction + bucket-layout evolution in one snapshot-atomic
    rewrite: read the current snapshot, rewrite EVERY live row under one
    fresh commit dir — concentrated one-task-per-bucket so each bucket
    lands as a single parquet file — and publish a new manifest.  With
    ``n_buckets`` the table is re-bucketed to the new count (Iceberg's
    partition evolution, done as a full rewrite: the manifest carries
    the layout, so readers and subsequent upserts pick up the new
    bucketing atomically); without it the layout is kept and the
    rewrite only coalesces small files.

    Logical content is IDENTICAL before and after — readers pinned to
    the old manifest keep time-traveling to it until ``vacuum`` ages
    the superseded dirs out.  Run out-of-band, like vacuum: a table
    that accumulated thousands of per-commit bucket dirs (or outgrew
    its creation-time bucket count, skewing upsert rewrite units) is a
    performance problem, never a correctness one.

    Concurrency: the same optimistic compare-and-publish as upserts —
    the rewrite pins the snapshot it read; if a writer lands in
    between, the commit is rejected and the rewrite re-reads and
    retries (its orphaned dir ages out via vacuum's min-age guard).

    ``sort_by`` additionally sorts rows WITHIN each bucket before the
    write (Iceberg's sort order, applied at compaction): hash bucketing
    is unchanged (key-pruned upserts keep working), but each bucket's
    single parquet file becomes range-clustered on the sort columns, so
    parquet row-group min/max statistics make range predicates skip
    row groups inside every file — the zone-map benefit without a
    layout change.  Recorded in the manifest (``sort_by``) so later
    compactions can preserve it.

    ``zorder_by`` clusters each bucket's file on a Z space-filling curve
    over SEVERAL columns instead of a lexicographic sort (Iceberg's
    ``zorder(a, b)`` rewrite strategy, Delta's ``OPTIMIZE ... ZORDER
    BY``): column values are quantile-binned (one GK-sketch pass over
    the live snapshot, skew-immune equal-population bins) and the bins'
    bits interleaved into one BIGINT sort key — all native expressions,
    see :mod:`srag_spark.functions.zorder`.  A lexicographic sort makes
    row-group min/max tight on its LEADING column only; the Z curve
    makes contiguous row runs span a small rectangle in EVERY named
    dimension, so range predicates on any z-column skip row groups.
    Mutually exclusive with ``sort_by``; recorded in the manifest
    (``zorder_by``) and preserved by later compactions; zone-map stats
    default to the z-columns.  Numeric/date/timestamp columns only.

    ``stats_for`` names columns whose per-bucket [min, max] are recorded
    in the manifest as ZONE MAPS (defaults to the sort or z-order
    columns — the ones compaction just range-clustered, where pruning
    pays most):
    :func:`scan_range` then eliminates whole buckets from the manifest
    dict alone, before any Spark task launches.  Incremental commits
    drop rewritten buckets' entries (conservative, never wrong); the
    next compaction re-records them.  Stats cost one columnar read-back
    of only the stat columns over the freshly written files.

    Returns ``{"version": <new>, "n_buckets": <layout>, "buckets": N}``.

    Scale shape: one linear read of the live snapshot + one shuffle
    keyed on the (new) bucket id + one linear write (the in-bucket sort
    rides the same exchange) — the minimum any re-layout can do.
    Nothing driver-side beyond the manifest dict.
    """
    for attempt in range(max_commit_retries + 1):
        try:
            return _rewrite_once(
                spark, path, n_buckets, sort_by, stats_for, zorder_by
            )
        except ManifestCommitRace:
            if attempt == max_commit_retries:
                raise


def _rewrite_once(
    spark: SparkSession,
    path: str,
    n_buckets: int | None,
    sort_by: list[str] | None = None,
    stats_for: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> dict:
    manifest = read_manifest(spark, path)
    if manifest is None:
        raise FileNotFoundError(f"no table (no committed manifest) at {path}")
    expected_prev = manifest["version"]
    bcol = manifest["bucket_col"]
    new_n = manifest["n_buckets"] if n_buckets is None else n_buckets
    rows = read_table(spark, path).withColumn(
        BUCKET_COL, _key_bucket(bcol, new_n)
    )
    commit_id = f"c{uuid.uuid4().hex}"
    # one task per bucket → one file per bucket dir (the compaction);
    # the optional in-bucket (z-)sort clusters each file for parquet
    # row-group stats skipping.  Passing an explicit [] clears an
    # inherited order; passing one order clears the other kind.
    inherit = sort_by is None and zorder_by is None
    sort_by = manifest.get("sort_by") if inherit else sort_by
    zorder_by = manifest.get("zorder_by") if inherit else zorder_by
    if sort_by and zorder_by:
        raise ValueError("pass sort_by= or zorder_by=, not both")
    laid = rows.repartition(new_n, F.col(BUCKET_COL))
    zv = "__zv"
    if zorder_by:
        from srag_spark.functions import zorder as _zorder

        # one GK-sketch pass over the live snapshot for the bin edges
        # (driver state: 255 floats per column), then the z-value as a
        # single codegen'd expression riding the compaction exchange
        bnds = _zorder.compute_boundaries(rows, list(zorder_by))
        dtypes = {f.name: f.dataType.simpleString() for f in rows.schema.fields}
        laid = (
            laid.withColumn(zv, _zorder.zvalue_col(bnds, dtypes))
            .sortWithinPartitions(BUCKET_COL, zv)
            .drop(zv)  # projection: preserves the in-partition order
        )
    elif sort_by:
        # lead with the bucket column: the parquet writer requires task
        # rows ordered by the partition column and would otherwise
        # re-sort (destroying the secondary order); with _kb leading,
        # the writer sees its required ordering satisfied and keeps the
        # in-bucket sort intact
        laid = laid.sortWithinPartitions(BUCKET_COL, *sort_by)
    data_dir = _write_buckets(laid, path, commit_id)
    buckets = {
        str(b): f"data/{commit_id}/{BUCKET_COL}={b}"
        for b in _buckets_in_commit(spark, data_dir)
    }
    stat_cols = (
        list(stats_for)
        if stats_for is not None
        else list(sort_by or zorder_by or [])
    )
    stats = _compute_stats(spark, data_dir, stat_cols) if stat_cols else {}
    commit_manifest(
        spark,
        path,
        {
            "n_buckets": new_n,
            "bucket_col": bcol,
            "key_cols": manifest.get("key_cols"),
            "sort_by": list(sort_by) if sort_by else None,
            "zorder_by": list(zorder_by) if zorder_by else None,
            "stats": stats,
            "schema": manifest["schema"],
            "buckets": buckets,
        },
        expected_prev=expected_prev,
    )
    return {
        "version": expected_prev + 1,
        "n_buckets": new_n,
        "buckets": len(buckets),
    }


def _tag_path(path: str, name: str) -> str:
    if not name or "/" in name or name.startswith("v") and name[1:].isdigit():
        raise ValueError(f"invalid tag name {name!r}")
    return f"{path}/{_MANIFEST_DIR}/tag-{name}.json"


def tag_snapshot(
    spark: SparkSession,
    path: str,
    name: str,
    version: int | None = None,
    overwrite: bool = False,
) -> int:
    """Pin a snapshot under a NAME (Iceberg tags): ``read_table(tag=)``
    resolves it, and ``vacuum`` RETAINS the tagged version's manifest
    and data dirs regardless of ``keep_manifests`` — the mechanism for
    keeping a "prod" or "training-run-X" snapshot alive while newer
    history ages out.  Defaults to the latest version; re-pointing an
    existing tag requires ``overwrite=True``.  Returns the pinned
    version."""
    v = latest_manifest_version(spark, path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no table (no committed manifest) at {path}")
    read_manifest(spark, path, version=v)  # must exist (raises otherwise)
    tp = _tag_path(path, name)
    if not overwrite and fsio.read_text_or_none(spark, tp) is not None:
        raise ValueError(f"tag {name!r} already exists (pass overwrite=True)")
    fsio.write_text(spark, tp, json.dumps({"version": v}))
    return v


def resolve_tag(spark: SparkSession, path: str, name: str) -> int:
    """The version a tag points at (raises if the tag does not exist)."""
    txt = fsio.read_text_or_none(spark, _tag_path(path, name))
    if txt is None:
        raise FileNotFoundError(f"no tag {name!r} at {path}")
    return int(json.loads(txt)["version"])


def list_tags(spark: SparkSession, path: str) -> dict[str, int]:
    out = {}
    for n in fsio.list_names(spark, f"{path}/{_MANIFEST_DIR}"):
        if n.startswith("tag-") and n.endswith(".json"):
            txt = fsio.read_text_or_none(spark, f"{path}/{_MANIFEST_DIR}/{n}")
            if txt is not None:
                out[n[4:-5]] = int(json.loads(txt)["version"])
    return out


def delete_tag(spark: SparkSession, path: str, name: str) -> None:
    fsio.delete(spark, _tag_path(path, name), recursive=False)


# ---------------------------------------------------------------------------
# zone maps (manifest-level per-bucket column stats) + stats-pruned scans
# ---------------------------------------------------------------------------
# Stat-able types: totally ordered, JSON-round-trippable with an encoding
# whose Python comparison agrees with the column's SQL ordering (ISO-8601
# strings compare lexicographically in timestamp order).
_STATS_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "string", "date", "timestamp", "timestamp_ntz", "boolean",
)


def _stats_encode(v):
    """A collected min/max value as a JSON-safe, order-preserving scalar."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if hasattr(v, "isoformat"):  # datetime.datetime / datetime.date
        return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
    return str(v)


def _carry_stats(manifest: dict, touched) -> dict:
    """Propagate zone-map stats across an incremental commit: stats stay
    valid for every bucket the commit does NOT rewrite; rewritten
    buckets' entries are dropped (stale stats would prune wrongly — a
    missing entry only means 'cannot prune', never a wrong result)."""
    touched_set = {int(b) for b in touched}
    return {
        b: s
        for b, s in (manifest.get("stats") or {}).items()
        if int(b) not in touched_set
    }


def _compute_stats(spark: SparkSession, data_dir: str, cols: list[str]) -> dict:
    """Per-bucket min/max for ``cols``, read back from the freshly
    committed commit dir — a columnar footer-cheap pass over only the
    stat columns, never a re-execution of the rewrite plan.  Returns
    ``{bucket: {col: [min, max]}}`` (all-null buckets store [None,
    None] — a range predicate cannot match null, so pruning them is
    exact)."""
    df = spark.read.parquet(data_dir)  # _kb discovered as partition column
    by_name = {f.name: f for f in df.schema.fields}
    stat_cols = [
        c
        for c in cols
        if c in by_name and by_name[c].dataType.simpleString() in _STATS_TYPES
    ]
    if not stat_cols:
        return {}
    aggs = []
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"__lo_{c}"))
        aggs.append(F.max(c).alias(f"__hi_{c}"))
    rows = (
        df.groupBy(BUCKET_COL)
        .agg(*aggs)
        .collect()  # bounded: one row per bucket
    )
    return {
        str(r[BUCKET_COL]): {
            c: [_stats_encode(r[f"__lo_{c}"]), _stats_encode(r[f"__hi_{c}"])]
            for c in stat_cols
        }
        for r in rows
    }


def _prune_for_range(manifest: dict, col: str, lo, hi) -> tuple[list[int], int]:
    """The bucket ids a ``col BETWEEN lo AND hi`` scan must read, plus
    how many the zone map eliminated.  Buckets without a stats entry
    are always read (missing stats are conservative, never wrong)."""
    stats = manifest.get("stats") or {}
    lo_e, hi_e = _stats_encode(lo), _stats_encode(hi)
    keep, pruned = [], 0
    for b in manifest["buckets"]:
        s = (stats.get(b) or {}).get(col)
        if s is None:
            keep.append(int(b))
            continue
        bmin, bmax = s
        if bmin is None:  # all-null bucket: a range predicate never matches
            pruned += 1
            continue
        if (hi_e is not None and bmin > hi_e) or (
            lo_e is not None and bmax < lo_e
        ):
            pruned += 1
            continue
        keep.append(int(b))
    return keep, pruned


def scan_range(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
    tag: str | None = None,
) -> DataFrame:
    """Range scan with manifest-level zone-map pruning: buckets whose
    recorded [min, max] for ``col`` (written by :func:`rewrite_table`
    ``sort_by=``/``stats_for=``) cannot intersect [lo, hi] are never
    opened — file skipping ABOVE the parquet layer, the Iceberg
    manifest-stats read path.  Bounds are inclusive; pass ``lo=None``
    / ``hi=None`` for a half-open range.  The residual predicate is
    still applied, so the result is exactly ``read_table(...).filter(
    lo <= col <= hi)`` whether or not any stats exist.

    At 100 TB: a time-range query over an hour of a year-long
    ts-sorted table opens ~1/8760 of the files; everything else is
    eliminated from the manifest dict alone, before any task launches.
    """
    if tag is not None:
        if version is not None:
            raise ValueError("pass version= or tag=, not both")
        version = resolve_tag(spark, path, tag)
    manifest = read_manifest(spark, path, version=version)
    if manifest is None:
        raise FileNotFoundError(f"no table (no committed manifest) at {path}")
    keep, _ = _prune_for_range(manifest, col, lo, hi)
    df = read_table(spark, path, buckets=keep, version=manifest["version"])
    if lo is not None:
        df = df.filter(F.col(col) >= F.lit(lo))
    if hi is not None:
        df = df.filter(F.col(col) <= F.lit(hi))
    return df


def table_history(spark: SparkSession, path: str) -> DataFrame:
    """Snapshot-history metadata table (Iceberg's ``snapshots``/
    ``history`` read path): one row per SURVIVING snapshot —
    ``(version, n_buckets, bucket_col, key_cols, sort_by, zorder_by,
    n_live_buckets, n_fields, tags)`` — so layout evolution, schema
    growth and tag placement are queryable without touching a byte of
    data.  Metadata-only: O(versions) manifest reads on the driver,
    vacuumed snapshots silently absent, no Spark job until the result
    is consumed."""
    latest = latest_manifest_version(spark, path)
    if latest is None:
        raise FileNotFoundError(f"no table (no committed manifest) at {path}")
    tag_by_v: dict[int, list[str]] = {}
    for name, v in sorted(list_tags(spark, path).items()):
        tag_by_v.setdefault(v, []).append(name)
    rows = []
    for v in range(1, latest + 1):
        try:
            m = read_manifest(spark, path, version=v)
        except FileNotFoundError:
            continue  # vacuumed
        n_fields = len(json.loads(m["schema"])["fields"]) if m.get("schema") else None
        rows.append(
            (
                v,
                m.get("n_buckets"),
                m.get("bucket_col"),
                m.get("key_cols"),
                m.get("sort_by"),
                m.get("zorder_by"),
                len(m.get("buckets") or {}),
                n_fields,
                tag_by_v.get(v, []),
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, n_buckets int, bucket_col string, "
        "key_cols array<string>, sort_by array<string>, "
        "zorder_by array<string>, "
        "n_live_buckets int, n_fields int, tags array<string>",
    )


def _file_rows(spark: SparkSession, path: str, version: int | None) -> list:
    """Driver-side rows behind :func:`table_files` (shared with callers
    like ``SragEngine.describe`` that consume the listing without a
    DataFrame round-trip)."""
    manifest = read_manifest(spark, path, version=version)
    if manifest is None:
        raise FileNotFoundError(f"no table (no committed manifest) at {path}")
    stats = manifest.get("stats") or {}
    rows = []
    for b, rel in sorted(manifest["buckets"].items(), key=lambda kv: int(kv[0])):
        st_json = json.dumps(stats[b], sort_keys=True) if b in stats else None
        for entry in fsio.list_status(spark, f"{path}/{rel}"):
            name = entry["name"]
            if entry["is_dir"] or not name.endswith(".parquet"):
                continue
            rows.append(
                (int(b), f"{rel}/{name}", entry["size"], entry["mtime_ms"], st_json)
            )
    return rows


def table_files(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Files metadata table (Iceberg's ``files`` read path): one row per
    LIVE data file of a snapshot — ``(bucket, file, size_bytes,
    mtime_ms, stats)`` with ``file`` relative to the table root and
    ``stats`` the bucket's zone-map entry as a JSON string (null when no
    stats were recorded).  The small-file diagnosis surface: feed the
    per-bucket file counts/sizes straight into a
    :func:`rewrite_table` decision.  Cost is O(live buckets) directory
    listings on the driver (the same class as vacuum) — metadata-only,
    never opens a data file."""
    return spark.createDataFrame(
        _file_rows(spark, path, version),
        "bucket int, file string, size_bytes long, mtime_ms long, stats string",
    )


def rollback(
    spark: SparkSession,
    path: str,
    to_version: int,
    max_commit_retries: int = 2,
) -> int:
    """Restore a previous snapshot as the NEW latest (Iceberg
    ``rollback_to_snapshot``): re-publishes ``to_version``'s manifest
    content under the next version number.  Nothing on the data path
    moves — the new manifest references the old snapshot's directories,
    so the rollback is instant at any table size and the rolled-back-
    over history stays time-travelable until vacuumed.  Same optimistic
    compare-and-publish as every commit.  Returns the new version."""
    m = read_manifest(spark, path, version=to_version)  # raises if vacuumed
    if m is None:
        raise FileNotFoundError(f"no table (no committed manifest) at {path}")
    body = {k: v for k, v in m.items() if k != "version"}
    for attempt in range(max_commit_retries + 1):
        prev = latest_manifest_version(spark, path) or 0
        try:
            commit_manifest(spark, path, body, expected_prev=prev)
            return prev + 1
        except ManifestCommitRace:
            if attempt == max_commit_retries:
                raise


# ---------------------------------------------------------------------------
# write–audit–publish (WAP): staged commits
# ---------------------------------------------------------------------------
class StagedConflict(RuntimeError):
    """The table changed since this snapshot was staged in a way that
    cannot be rebased: a concurrent commit rewrote one of the staged
    buckets, changed the bucket layout, or evolved a column type.  The
    staged snapshot stays intact — re-stage the batch against the fresh
    table (the audit must rerun anyway: its subject changed)."""


def _staged_path(path: str, staging_id: str) -> str:
    if not staging_id or "/" in staging_id:
        raise ValueError(f"invalid staging id {staging_id!r}")
    return f"{path}/{_MANIFEST_DIR}/staged-{staging_id}.json"


def stage_upsert(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    key_cols: list[str],
    n_buckets: int = DEFAULT_KEY_BUCKETS,
    persist_incoming: bool = True,
) -> str:
    """Write–audit–publish, step 1 (Iceberg's WAP workflow): run the full
    :func:`upsert_by_key` merge and land the merged bucket dirs, but
    record the would-be manifest as a STAGED snapshot
    (``_manifests/staged-<id>.json``) instead of publishing it.  Readers
    of the table see nothing; auditors read the candidate state via
    :func:`read_staged`, then either :func:`publish_staged` (atomic, with
    disjoint-bucket rebase) or :func:`abandon_staged`.  Returns the
    staging id.

    This is the training-data ingest gate: land a 10 TB batch, run
    contamination / quality / volume audits against exactly the bytes
    that would go live, and only then flip the snapshot — a failed audit
    costs one vacuum, never a rollback of live data.

    Scale shape: identical to ``upsert_by_key`` (the data write IS the
    upsert write); staging adds one small JSON object.  Staged data dirs
    are protected from :func:`vacuum` until the stage is published or
    abandoned."""
    from pyspark import StorageLevel

    incoming = incoming.dropDuplicates(key_cols)
    if persist_incoming:
        incoming.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        prep = _prepare_upsert(spark, path, incoming, key_cols, n_buckets)
    finally:
        if persist_incoming:
            incoming.unpersist(blocking=False)
    staging_id = uuid.uuid4().hex
    staged = {
        "base_version": prep["expected_prev"],
        "touched": [int(b) for b in prep["touched"]],
        "base_touched_dirs": prep["base_touched_dirs"],
        "body": prep["body"],
    }
    tmp = f"{path}/{_MANIFEST_DIR}/.tmp-{uuid.uuid4().hex}.json"
    fsio.write_text(spark, tmp, json.dumps(staged, sort_keys=True))
    if not fsio.rename_atomic(spark, tmp, _staged_path(path, staging_id)):
        fsio.delete(spark, tmp, recursive=False)
        raise RuntimeError(f"could not record staged snapshot at {path}")
    return staging_id


def _read_staged_record(spark: SparkSession, path: str, staging_id: str) -> dict:
    txt = fsio.read_text_or_none(spark, _staged_path(path, staging_id))
    if txt is None:
        raise FileNotFoundError(
            f"no staged snapshot {staging_id!r} at {path} (published, "
            "abandoned, or never staged)"
        )
    return json.loads(txt)


def list_staged(spark: SparkSession, path: str) -> dict[str, dict]:
    """Pending staged snapshots: ``{staging_id: {"base_version": int,
    "touched": [bucket ids]}}``."""
    out = {}
    for n in fsio.list_names(spark, f"{path}/{_MANIFEST_DIR}"):
        if n.startswith("staged-") and n.endswith(".json"):
            txt = fsio.read_text_or_none(spark, f"{path}/{_MANIFEST_DIR}/{n}")
            if txt is not None:
                st = json.loads(txt)
                out[n[7:-5]] = {
                    "base_version": st["base_version"],
                    "touched": st["touched"],
                }
    return out


def read_staged(
    spark: SparkSession,
    path: str,
    staging_id: str,
    buckets: list[int] | None = None,
) -> DataFrame:
    """The AUDIT read: the table exactly as it would look if the staged
    snapshot were published now (as of its base version).  Pass
    ``buckets=touched`` (from :func:`list_staged`) to audit only the
    buckets the staged batch rewrote — the usual shape for per-batch
    quality gates on a table far larger than any one batch."""
    st = _read_staged_record(spark, path, staging_id)
    body = st["body"]
    schema = StructType.fromJson(json.loads(body["schema"]))
    dirs = _bucket_dirs(path, body, buckets)
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*dirs)


def publish_staged(
    spark: SparkSession,
    path: str,
    staging_id: str,
    max_commit_retries: int = 2,
) -> int:
    """Write–audit–publish, step 3: atomically make the staged snapshot
    the table's latest.  If the table has not moved since staging, the
    recorded manifest body publishes as-is.  If concurrent commits landed
    in DISJOINT buckets, the stage is REBASED onto the latest snapshot
    (Iceberg cherry-pick validation): the staged buckets' dirs overlay
    the latest manifest, schemas merge additively, and both writers'
    rows survive.  A concurrent rewrite of a staged bucket, a layout
    change, or a column-type conflict raises :class:`StagedConflict` —
    the staged data is untouched and the batch must be re-staged.
    Returns the published version; the staged record is removed."""
    st = _read_staged_record(spark, path, staging_id)
    for attempt in range(max_commit_retries + 1):
        latest = read_manifest(spark, path)
        latest_v = latest["version"] if latest is not None else 0
        if latest_v == st["base_version"]:
            body = st["body"]
        else:
            body = _rebase_staged(latest, st, path)
        try:
            commit_manifest(spark, path, body, expected_prev=latest_v)
        except ManifestCommitRace:
            if attempt == max_commit_retries:
                raise
            continue
        fsio.delete(spark, _staged_path(path, staging_id), recursive=False)
        return latest_v + 1


def _rebase_staged(latest: dict | None, st: dict, path: str) -> dict:
    """Overlay a staged snapshot onto a manifest newer than its base.
    Sound exactly when no concurrent commit touched a staged bucket:
    the staged dirs were merged from base-version bucket contents, so if
    those buckets are byte-identical in ``latest`` (same dirs — dirs are
    immutable once written), overlaying reproduces what staging against
    ``latest`` would have produced, bucket by bucket."""
    staged_body = st["body"]
    if latest is None:
        raise StagedConflict(
            f"staged snapshot was derived from v{st['base_version']} of "
            f"{path}, but the table no longer exists"
        )
    if (
        latest["n_buckets"] != staged_body["n_buckets"]
        or latest["bucket_col"] != staged_body["bucket_col"]
    ):
        raise StagedConflict(
            f"bucket layout of {path} changed since staging "
            f"(v{st['base_version']} → v{latest['version']}) — re-stage"
        )
    base_dirs = st["base_touched_dirs"]
    for b in st["touched"]:
        if latest["buckets"].get(str(b)) != base_dirs.get(str(b)):
            raise StagedConflict(
                f"bucket {b} of {path} was rewritten since staging "
                f"(v{st['base_version']} → v{latest['version']}) — re-stage"
            )
    try:
        merged = _merge_schemas(
            StructType.fromJson(json.loads(latest["schema"])),
            StructType.fromJson(json.loads(staged_body["schema"])),
        )
    except ValueError as exc:
        raise StagedConflict(f"schema conflict rebasing onto {path}: {exc}")
    buckets = dict(latest["buckets"])
    for b in st["touched"]:
        buckets[str(b)] = staged_body["buckets"][str(b)]
    return {
        "n_buckets": latest["n_buckets"],
        "bucket_col": latest["bucket_col"],
        "key_cols": latest.get("key_cols") or staged_body.get("key_cols"),
        "sort_by": latest.get("sort_by"),
        "zorder_by": latest.get("zorder_by"),
        "stats": _carry_stats(latest, st["touched"]),
        "schema": merged.json(),
        "buckets": buckets,
    }


def abandon_staged(spark: SparkSession, path: str, staging_id: str) -> None:
    """Write–audit–publish, the failed-audit exit: drop the staged
    record.  The table never saw the batch; the staged data dirs become
    ordinary vacuumable garbage."""
    fsio.delete(spark, _staged_path(path, staging_id), recursive=False)


def vacuum(
    spark: SparkSession,
    path: str,
    keep_manifests: int = 1,
    min_age_seconds: float = 3600.0,
) -> int:
    """Drop data directories unreferenced by the ``keep_manifests`` most
    recent snapshots, plus older manifest files.  Returns the number of
    data dirs removed.  Run out-of-band (never required for correctness —
    superseded dirs are invisible to readers).

    ``min_age_seconds`` is the ORPHAN RETENTION guard (the same reason
    Iceberg's remove_orphan_files defaults to a 3-day cutoff): a
    concurrent writer that has written its commit dir but not yet
    published its manifest looks exactly like garbage to vacuum.  Data
    dirs younger than the window (FS modification time vs the JVM clock)
    are skipped, so any commit that completes within the window can
    never have its fresh files deleted out from under its manifest.
    Set it comfortably above the longest plausible commit duration; 0
    restores delete-everything-unreferenced (safe only when no writer
    can possibly be mid-commit)."""
    versions = sorted(
        int(n[1:-5])
        for n in fsio.list_names(spark, f"{path}/{_MANIFEST_DIR}")
        if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit()
    )
    if not versions:
        return 0
    tagged = set(list_tags(spark, path).values())
    keep = sorted(set(versions[-keep_manifests:]) | (tagged & set(versions)))
    live_commits: set[str] = set()
    for v in keep:
        m = json.loads(fsio.read_text(spark, _manifest_path(path, v)))
        # engine-level manifests (api.SragEngine) reuse this protocol but
        # carry no data dirs — only their manifest files age out
        for d in m.get("buckets", {}).values():
            live_commits.add(d.split("/")[1])  # data/<commit>/_kb=N
    # pending WAP stages (stage_upsert) pin every dir their candidate
    # snapshot references — the staged commit itself plus the base dirs
    # their audit read still needs — until published or abandoned
    for sid in list_staged(spark, path):
        st = _read_staged_record(spark, path, sid)
        for d in st["body"].get("buckets", {}).values():
            live_commits.add(d.split("/")[1])
    cutoff = fsio.current_time_ms(spark) - int(min_age_seconds * 1000)
    removed = 0
    for name in fsio.list_names(spark, f"{path}/data"):
        if name in live_commits:
            continue
        mtime = fsio.modification_time_ms(spark, f"{path}/data/{name}")
        if mtime is not None and mtime > cutoff:
            continue  # possibly a concurrent writer's unpublished commit
        fsio.delete(spark, f"{path}/data/{name}")
        removed += 1
    for v in versions[:-keep_manifests]:
        if v in tagged:
            continue  # tagged snapshots never age out
        fsio.delete(spark, _manifest_path(path, v), recursive=False)
        # claim objects pair 1:1 with published manifests (fsio.rename_atomic)
        fsio.delete(spark, _manifest_path(path, v) + ".claim", recursive=False)
    return removed
