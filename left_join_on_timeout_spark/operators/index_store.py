"""Versioned-index core: the on-disk contract every saved index tier
(IVF2, PQ, LSH, SRP, text) shares, written once.

Layout under an index ``path``:

* ``postings_v{seq}`` — the tier's postings, partitioned by the tier's
  directory column (``sid``, ``band`` or ``tb``; see :data:`TIERS`).
  Appends add files to the live version; a rebuild writes the next
  version as a fresh directory, so a reader that loaded the previous
  version keeps scanning its own files. No live data is ever renamed,
  which keeps the layout object-store safe.
* ``meta_v{seq}`` — one row of the tier's knobs (its DDL is in
  :data:`TIERS`), the format ``version`` and ``seq``: load-time
  validation, and the contract that a search uses the same cap, probe
  and banding semantics the build baked into the postings.
* ``latest`` — a pointer object holding the live seq, written last.
  It is an optimization, not the truth (the Iceberg version-hint
  rule, https://iceberg.apache.org/spec/): a reader that finds it
  missing, mid-write or naming an unreadable version lists the
  ``meta_v*`` directories and takes the newest readable one, so a load
  racing a publish never errors.
* ``tombstones_v{seq}`` — deleted ids of that version, typed like its
  postings ids. Every load anti-joins them out; the next rebuild drops
  the rows physically and starts a version with none.
* side relations a handle reads (anchors, PQ codebook and LUT) are
  written by the full build and are immutable between builds; the
  text tier adds its ``ids_v{seq}`` sidecar.

:func:`publish` is the only writer of a version: postings (when given),
then ``meta_v{seq}``, then the pointer flip, then GC of versions
``keep_versions`` or more behind the new one (a build, seq 1, instead
removes everything a previous lifetime of the path left). A crash
before the flip leaves the old version live, and the next publish of
that seq overwrites the stray directories. Deletes append tombstones
to the live version; appends add postings files to it. Every
filesystem operation outside a DataFrame write goes through
:mod:`fsio`, so the protocol runs on any Hadoop-compatible store.
"""

from __future__ import annotations

import os
import re
import warnings
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from left_join_on_timeout_spark import fsio

# v3: postings AND meta are versioned directories resolved through the
# ``latest`` pointer, with optional versioned tombstones. Older layouts
# (v1 rename-in-place, v2 overwritten meta) fail loud at load.
INDEX_FORMAT_VERSION = 3

_POINTER = "latest"

_VERSIONED = re.compile(r"(?:postings|tombstones|meta|ids)_v(\d+)")


class IdTypeError(ValueError):
    """An append batch's id dtype differs from the id type of the
    index's live postings: its files would make every later read of
    that version fail."""


@dataclass(frozen=True)
class Tier:
    """What the core needs to know about one index family."""

    part: str
    """postings partition (directory) column"""
    ddl: str
    """meta schema"""
    fixed: Callable
    """meta -> the fixed postings dtypes, ``id`` excluded"""
    sides: Callable
    """meta -> the side relations a handle reads"""
    defaults: dict
    """values for meta fields that older metas lack"""
    cell: tuple = ()
    """cell key the build cap applies to"""
    cap: str | None = None
    """meta field holding the build cap"""

    @property
    def columns(self) -> list[str]:
        return [c.split()[0] for c in self.ddl.split(",")]


_BANDED = {"band": "bigint", "h": "string"}

TIERS = {
    "ivf2": Tier(
        "sid",
        "version INT, n_super INT, k2 INT, iters INT, cell_cap INT, "
        "train_frac DOUBLE, train_seed STRING, id_col STRING, "
        "id_type STRING, seq INT",
        lambda m: {"sid": "bigint", "sub": "bigint", "v": "array<double>",
                   "nrm": "double"},
        lambda m: ("sup_anchors", "sub_anchors"),
        {"id_type": "bigint"}, ("sid", "sub"), "cell_cap"),
    "pq": Tier(
        "sid",
        "version INT, dim INT, m INT, k INT, n_cells INT, cell_cap INT, "
        "id_col STRING, id_type STRING, seq INT, coarse STRING, "
        "n_super INT, k2 INT",
        lambda m: {"cell": "bigint", "sid": "bigint",
                   **{f"code{b}": "int" for b in range(m.m)}},
        lambda m: ("codebook", "lut") + (
            ("sup_anchors", "sub_anchors") if m.coarse == "tree"
            else ("anchors",)),
        {"id_type": "bigint", "coarse": "flat", "n_super": -1, "k2": -1},
        ("cell",), "cell_cap"),
    # LSH metas carry no id_type: ids may be bigint or string
    "lsh": Tier(
        "band",
        "version INT, k INT, bands INT, shingle_n INT, bucket_cap INT, "
        "id_col STRING, seq INT",
        lambda m: _BANDED, lambda m: (), {}, ("band", "h"), "bucket_cap"),
    "srp": Tier(
        "band",
        "version INT, dim INT, bands INT, n_bits INT, seed INT, "
        "bucket_cap INT, id_col STRING, id_type STRING, seq INT",
        lambda m: _BANDED, lambda m: (), {"id_type": "bigint"},
        ("band", "h"), "bucket_cap"),
    # no build cap on the text tier: rebuilds drop tombstones and
    # refresh the corpus stats, nothing re-caps
    "text": Tier(
        "tb",
        "version INT, id_col STRING, id_type STRING, n_buckets INT, "
        "n_docs BIGINT, avgdl DOUBLE, token_mode STRING, ngram_n INT, "
        "seq INT",
        lambda m: {"term": "string", "tf": "double", "dl": "double",
                   "tb": "bigint"},
        lambda m: (), {"id_type": "bigint", "token_mode": "word",
                       "ngram_n": 0}),
}

_PY_TYPES = {"INT": int, "BIGINT": int, "DOUBLE": float, "STRING": str}


def tier_of(meta) -> str:
    """The tier whose meta schema ``meta`` carries (fields older metas
    may lack do not count); the schemas are disjoint on the rest."""
    fields = set(meta.asDict())
    for name, tier in TIERS.items():
        if set(tier.columns) - set(tier.defaults) <= fields:
            return name
    raise ValueError(f"not a saved-index manifest: fields {sorted(fields)}")


def default_index_root() -> str:
    """Root directory the registered queries save their indexes under.
    ``SPARK_GRAFT_INDEX_DIR`` pins a shared location (the deployment
    case: one serving path, versioned rebuilds GC themselves); the
    default is keyed by PID so two concurrent runs at the same SF
    never overwrite files a sibling's lazy search plan still reads,
    and is removed at interpreter exit."""
    return (os.environ.get("SPARK_GRAFT_INDEX_DIR")
            or fsio.process_dir("spark_graft_index"))


def postings_dir(path: str, seq: int) -> str:
    return os.path.join(path, f"postings_v{int(seq)}")


def meta_dir(path: str, seq: int) -> str:
    return os.path.join(path, f"meta_v{int(seq)}")


def tombstones_dir(path: str, seq: int) -> str:
    return os.path.join(path, f"tombstones_v{int(seq)}")


def index_versions(spark: SparkSession, path: str) -> list[int]:
    """The version seqs still live under ``path`` (ascending): the
    pointer's target plus the prior versions the rebuilds' retention
    has not GC'd yet. Any of them can be pinned by ``*_index_load(...,
    as_of=seq)``. One directory listing."""
    return sorted(
        int(m.group(1)) for name in fsio.list_names(spark, path)
        if (m := re.fullmatch(r"meta_v(\d+)", name)))


def _checked(path: str, seq: int, rows: list):
    if len(rows) != 1:
        raise ValueError(f"corrupt index meta at {path} (v{seq}): "
                         f"{len(rows)} rows")
    if rows[0].version != INDEX_FORMAT_VERSION:
        raise ValueError(
            f"index format version {rows[0].version} at {path}; "
            f"this build reads version {INDEX_FORMAT_VERSION}")
    return rows[0]


def read_meta(spark: SparkSession, path: str, as_of: int | None = None):
    """The live manifest: the ``latest`` pointer's ``meta_v{seq}``, or,
    if the pointer is missing, mid-write or names an unreadable
    version, the newest readable ``meta_v*`` by listing.

    ``as_of`` pins a specific version instead (the snapshot read): no
    pointer, no fallback — either ``meta_v{as_of}`` is still live or
    the error names the versions that are."""
    if as_of is not None:
        as_of = int(as_of)
        try:
            rows = spark.read.parquet(meta_dir(path, as_of)).collect()
        except Exception as e:
            raise ValueError(
                f"index version {as_of} at {path} is not live "
                f"(GC'd by a later rebuild's retention, or never "
                f"published) — live versions: "
                f"{index_versions(spark, path)}; re-pin as_of to one of "
                f"them or raise keep_versions on the rebuild side") from e
        return _checked(path, as_of, rows)

    def candidates():
        # the pointer first: the listing runs only if it fails
        txt = fsio.read_text(spark, os.path.join(path, _POINTER))
        pointed = int(txt.strip()) if txt and txt.strip().isdigit() else None
        if pointed is not None:
            yield pointed
        yield from (s for s in reversed(index_versions(spark, path))
                    if s != pointed)

    last_err: Exception | None = None
    for seq in candidates():
        try:
            rows = spark.read.parquet(meta_dir(path, seq)).collect()
        except Exception as e:  # mid-write/GC'd version: try the next
            last_err = e
            continue
        return _checked(path, seq, rows)
    if fsio.is_dir(spark, os.path.join(path, "meta")):
        raise ValueError(
            f"index at {path} uses the pre-v{INDEX_FORMAT_VERSION} "
            f"overwritten-meta layout — rebuild it with the current "
            f"*_index_build")
    raise ValueError(
        f"no readable index manifest at {path} (not an index, or "
        f"every meta_v* unreadable)") from last_err


def write_meta(spark: SparkSession, path: str, tier: str, meta) -> None:
    """Write ``meta_v{meta.seq}`` as its own directory (never
    overwriting a live reader's meta). Does not flip the pointer."""
    (spark.createDataFrame([tuple(meta)], TIERS[tier].ddl)
     .write.mode("overwrite").parquet(meta_dir(path, meta.seq)))


def read_postings(spark: SparkSession, path: str, seq: int) -> DataFrame:
    """Scan ``postings_v{seq}``. A degenerate build (every cell over its
    cap, or an empty corpus) leaves no parquet footers, and schema
    inference would fail with an opaque 'Unable to infer schema'."""
    try:
        return spark.read.parquet(postings_dir(path, seq))
    except Exception as e:
        raise ValueError(
            f"empty or corrupt index postings at {path} (every cell/"
            f"bucket over its build cap, or an empty corpus at "
            f"build?): {e}") from e


def load_tombstones(spark: SparkSession, path: str, seq: int):
    """The version's deleted-id relation, or None. Tiny by contract:
    deletes accumulate only between rebuilds, so search-side anti-joins
    broadcast it."""
    tdir = tombstones_dir(path, seq)
    if not any(f.endswith(".parquet") for f in fsio.list_names(spark, tdir)):
        return None
    return spark.read.parquet(tdir)


def apply_tombstones(postings: DataFrame, tomb) -> DataFrame:
    """Anti-join deleted ids out of the postings. Catalyst still pushes
    left-side predicates (attribute filters, partition pruning) through
    the LeftAnti join into the scan (plan-gated in tests/test_plans.py)."""
    if tomb is None:
        return postings
    return postings.join(F.broadcast(tomb.select("id")), "id", "left_anti")


def check_id_col(meta, id_col: str, action: str) -> None:
    """Cross-check a search/append ``id_col`` against the build's
    ``meta.id_col``: an append with a different id column writes ids
    from another namespace — refuse; a search may name its query
    frame's column differently — warn."""
    built = getattr(meta, "id_col", None)
    if built is None or id_col == built:
        return
    if action == "append":
        raise ValueError(
            f"append id_col={id_col!r} differs from the index's build "
            f"id_col={built!r} — appended ids would come from a "
            f"different namespace; rebuild the index instead")
    warnings.warn(
        f"{action} id_col={id_col!r} differs from the index's build "
        f"id_col={built!r} — make sure the query ids share the "
        f"postings' id namespace", stacklevel=3)


def _open(spark: SparkSession, path: str, tier: str, meta, tomb) -> dict:
    """The handle every tier's search reads: ``{"meta", "path",
    "postings", *side relations}``. The postings stay a lazy scan; the
    partition column comes back from directory inference as int for
    small values and is cast to the long the assignment relations use,
    then the fixed-column contract is checked, so schema drift or a
    foreign directory fails here, not as a join error later."""
    t = TIERS[tier]
    postings = (read_postings(spark, path, meta.seq)
                .withColumn(t.part, F.col(t.part).cast("long")))
    got = dict(postings.dtypes)
    bad = {c: (d, got.get(c)) for c, d in t.fixed(meta).items()
           if got.get(c) != d}
    if "id_type" in meta.__fields__:
        if got.get("id") != meta.id_type:
            bad["id"] = (meta.id_type, got.get("id"))
    elif got.get("id") not in ("bigint", "string"):
        bad["id"] = ("bigint|string", got.get("id"))
    if bad:
        raise ValueError(
            f"postings schema drift at {path}: expected vs got {bad}")
    return {"meta": meta, "path": path,
            "postings": apply_tombstones(postings, tomb),
            **{s: spark.read.parquet(os.path.join(path, s))
               for s in t.sides(meta)}}


def load(spark: SparkSession, path: str, tier: str,
         as_of: int | None = None) -> dict:
    """Load a saved ``tier`` index: resolve the manifest (``as_of`` pins
    a still-live prior version, the snapshot read), fill the fields
    older metas lack, validate the postings schema and anti-join the
    version's tombstones. A load refuses another tier's index."""
    meta = read_meta(spark, path, as_of)
    found = tier_of(meta)
    if found != tier:
        raise ValueError(f"{path} holds a {found} index, not {tier}")
    t = TIERS[tier]
    d = meta.asDict()
    meta = Row(**{c: t.defaults.get(c) if d.get(c) is None else d[c]
                  for c in t.columns})
    return _open(spark, path, tier, meta,
                 load_tombstones(spark, path, meta.seq))


def _gc(spark: SparkSession, path: str, live_seq: int, keep: int) -> None:
    """Remove versions ``keep`` or more behind the live one. The grace
    period lets a reader of a previous version finish both sides of its
    anti-join after a rebuild; snapshot deployments raise ``keep``."""
    keep = max(1, int(keep))
    for name in fsio.list_names(spark, path):
        m = _VERSIONED.fullmatch(name)
        if m and int(m.group(1)) <= live_seq - keep:
            fsio.delete(spark, os.path.join(path, name))


def _reset(spark: SparkSession, path: str) -> None:
    """A full build resets what a previous lifetime of the path left:
    every other version, the v1 tombstones and legacy directories. A
    reader of the old index keeps no grace period across a build from
    scratch — the documented overwrite semantics."""
    for name in fsio.list_names(spark, path):
        m = _VERSIONED.fullmatch(name)
        if (m and int(m.group(1)) != 1) or name == "tombstones_v1":
            fsio.delete(spark, os.path.join(path, name))
    for legacy in ("tombstones", "postings", "meta"):
        fsio.delete(spark, os.path.join(path, legacy))


def publish(spark: SparkSession, path: str, tier: str, meta: dict,
            postings: DataFrame | None = None,
            keep_versions: int = 2) -> dict:
    """Publish version ``meta["seq"]`` of a ``tier`` index: write
    ``postings`` (when given; a caller that derives the meta from the
    written postings writes them itself) partitioned by the tier's
    column and already clustered by the caller, then ``meta_v{seq}``,
    then flip the pointer, then GC (seq 1, a full build: reset the
    path). Returns the new version's handle, built from ``meta``
    itself — nothing is read back, and the version has no tombstones.
    Fields ``meta`` lacks take the tier's defaults."""
    t = TIERS[tier]
    meta = {**t.defaults, **meta, "version": INDEX_FORMAT_VERSION}
    meta = Row(**{c: None if meta[c] is None
                  else _PY_TYPES[d.split()[-1]](meta[c])
                  for c, d in zip(t.columns, t.ddl.split(","))})
    if postings is not None:
        (postings.write.mode("overwrite").partitionBy(t.part)
         .parquet(postings_dir(path, meta.seq)))
    write_meta(spark, path, tier, meta)
    fsio.write_text(spark, os.path.join(path, _POINTER), str(meta.seq))
    if meta.seq == 1:
        _reset(spark, path)
    else:
        _gc(spark, path, meta.seq, keep_versions)
    return _open(spark, path, tier, meta, None)


def check_append(index: dict, rows: DataFrame, id_col: str) -> None:
    """Refuse an append batch before anything is written: ``id_col``
    must be the build's, and the batch's ``id`` dtype must equal the
    loaded postings' (LSH metas do not record an id type)."""
    check_id_col(index["meta"], id_col, "append")
    want = index["postings"].schema["id"].dataType
    got = rows.schema["id"].dataType
    if got != want:
        raise IdTypeError(
            f"append id dtype {got.simpleString()!r} != index id type "
            f"{want.simpleString()!r} at {index['path']}")


def append(index: dict, rows: DataFrame, id_col: str) -> None:
    """Append ``rows`` (postings-shaped, ``id`` already aliased) to the
    handle's live version, after :func:`check_append`. The batch is
    clustered by the directory column first, so it writes about one
    file per touched directory instead of tasks × directories. Build
    caps are not re-evaluated per batch; the next rebuild re-caps."""
    check_append(index, rows, id_col)
    part = TIERS[tier_of(index["meta"])].part
    (rows.repartition(F.col(part)).write.mode("append").partitionBy(part)
     .parquet(postings_dir(index["path"], index["meta"].seq)))


def delete(spark: SparkSession, path: str, ids) -> None:
    """Append id tombstones to a saved index of any tier: ``ids`` is a
    one-column DataFrame of posting ids or an iterable of ids. Deleted
    ids stop appearing at the next load and drop physically at the
    next rebuild; an id never indexed is a no-op.

    A delete wins over any append of the same id until that rebuild
    (the anti-join is by id, not by version), so a re-insert takes
    effect only if appended after it. A consumer holding a loaded
    handle keeps its as-of-load view; a long-running stream should
    re-load once per rebuild cycle or probe through
    ``index_admin.refreshing_probe``.

    Tombstones take the id type the live postings carry; ids that do
    not cast losslessly into it raise ``TypeError`` instead of
    null-casting into a silent no-op delete."""
    meta = read_meta(spark, path)
    id_type = read_postings(spark, path, meta.seq).schema["id"].dataType
    if isinstance(ids, DataFrame):
        src = ids.select(F.col(ids.columns[0]).alias("id"))
    else:
        vals = [(v,) for v in ids]
        if not vals:
            return
        src = spark.createDataFrame(vals, ["id"])
    if src.schema["id"].dataType != id_type:
        try:
            checked = src.select(
                F.col("id").alias("_orig"),
                F.col("id").try_cast(id_type).alias("id"))
        except Exception as e:
            got = src.schema["id"].dataType.simpleString()
            raise TypeError(
                f"delete ids of type {got} cannot cast to the index's "
                f"id type {id_type.simpleString()}") from e
        # deletes are tiny by contract, so the check is a bounded action
        bad = (checked.where(F.col("id").isNull()
                             & F.col("_orig").isNotNull())
               .limit(3).collect())
        if bad:
            raise TypeError(
                f"delete ids {[r._orig for r in bad]} do not cast to "
                f"the index's id type {id_type.simpleString()} — "
                f"refusing a silent no-op delete")
        src = checked.select("id")
    src.write.mode("append").parquet(tombstones_dir(path, meta.seq))
