"""Collection lifecycle over Parquet — the reference's "index/table".

Reference ops (SURVEY.md §2.7): create_collection with a fixed vector dim +
EUCLID metric (/root/reference/insert.py:67-76), idempotent existence check
(insert.py:67-68), delete_collection (test_qdrant.py:92), copy-init from an
existing collection (InitFrom, test_qdrant.py:128-133), list collections.

Spark design: one directory per collection holding parquet data plus a
``_meta.json`` sidecar recording dim / metric / id-type. The dim is a
*checked* property on every write — fixing the reference's 384-vs-1024
mismatch hole (SURVEY.md §1.2). Data is written partitioned by a bucket of
``user_id`` (``pmod(hash(user_id), n_buckets)``) so the mandatory tenant
filter of every search/delete prunes files instead of scanning the world —
at 1000 tenants / 100 TB that turns every query into a ~0.1% scan.

Writes are MVCC: each write materializes a new ``data.v{N}`` directory and
atomically advances the version pointer in ``_meta.json`` — in-flight
readers keep their version's files (retained until ``vacuum``), so there is
no swap window where a scan sees a half-replaced table. Bucket-scoped writes
stay O(batch): untouched buckets' immutable parquet files are HARDLINKED
into the new version, only rewritten buckets get new files. ``read_version``
gives time travel; ``vacuum`` enforces retention. This is the plain-parquet
reproduction of a Delta/Iceberg transaction log's snapshot semantics.
"""

from __future__ import annotations

import contextlib
import errno
import json
import os
import re
import shutil
import uuid
from dataclasses import asdict, dataclass
from types import SimpleNamespace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

META_FILE = "_meta.json"
MANIFEST_FILE = "_buckets.json"
ALIASES_FILE = "_aliases.json"  # catalog-level alias -> collection map
DATA_DIR = "data"
DEFAULT_BUCKETS = 32  # tenant-hash partition count; at 100 TB raise toward 1024

# Payload-index layout: files per __bucket dir when at least one payload
# field is indexed. More files = finer stats granularity (more skipping)
# but more open() calls per unpruned scan; at 100 TB this should track
# bucket size so each file stays in the 128 MB - 1 GB band.
INDEX_FILES_PER_BUCKET = 4
# Qdrant payload-index schema types (PUT /collections/{c}/index field_schema)
PAYLOAD_INDEX_TYPES = {"keyword", "integer", "float", "bool", "datetime",
                       "text", "text_whitespace", "uuid", "geo"}
# schemas that get the token-postings sidecar; "text" tokenizes with
# Qdrant's default `word` tokenizer (split on any non-alphanumeric),
# "text_whitespace" with Qdrant's `whitespace` tokenizer
TEXT_INDEX_SCHEMAS = {"text", "text_whitespace"}
_RESERVED_FIELDS = {"id", "embedding", "__bucket"}


def _footer_id_range(bucket_dir: str):
    """``[min(id), max(id)]`` over one bucket dir's parquet files, read
    from the footers' row-group statistics — what Spark's ``min``/``max``
    over those files answers. All-null row groups are skipped, so an
    all-null bucket is ``[None, None]``, as in Spark; a row group with
    non-null ids but no min/max makes the range unknown, ``[None, None]``
    too. None when the dir holds no rows, False when the files have no
    ``id`` column."""
    import pyarrow.parquet as pq

    lo = hi = None
    rows = unknown = False
    for f in sorted(os.listdir(bucket_dir)):
        if not f.endswith(".parquet") or f[0] in "._":
            continue
        md = pq.ParquetFile(os.path.join(bucket_dir, f)).metadata
        cols = [md.schema.column(j).path for j in range(md.num_columns)]
        if "id" not in cols:
            return False
        j = cols.index("id")
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if rg.num_rows == 0:
                continue
            rows = True
            st = rg.column(j).statistics
            if st is not None and st.has_null_count and st.null_count == rg.num_rows:
                continue  # all-null row group
            if st is None or not st.has_min_max:
                unknown = True
                continue
            lo = st.min if lo is None or st.min < lo else lo
            hi = st.max if hi is None or st.max > hi else hi
    if not rows:
        return None
    return [None, None] if unknown else [lo, hi]


# how Spark reports a ``raise_error`` — alone, or as one of several stage
# failures AQE gathers into one error
_USER_RAISED = re.compile(r"\[USER_RAISED_EXCEPTION\] (.*?) SQLSTATE: P0001")


@contextlib.contextmanager
def _raising_checks():
    """Re-raise a row check that ``CollectionCatalog._validate`` folded
    into a job as the ``ValueError`` it names, chained to the Spark
    error."""
    try:
        yield
    except Exception as e:
        m = _USER_RAISED.search(str(e))
        if m is None:
            raise
        raise ValueError(m.group(1)) from e


@dataclass
class CollectionMeta:
    name: str
    dim: int
    metric: str = "l2"  # reference is always EUCLID (/root/reference/insert.py:72)
    id_type: str = "long"  # "long" | "string" (uuid ids, test_qdrant.py:55)
    n_buckets: int = DEFAULT_BUCKETS
    # Qdrant custom sharding (shard_key_selector): which payload column the
    # __bucket partitioning hashes. Default mirrors the reference's
    # user_id multi-tenancy; any payload column works (string keys hash
    # raw, integer keys normalize to long first).
    shard_key: str = "user_id"
    version: int = 0  # 0 = never written; data lives in data.v{version}
    # named vectors (Qdrant vectors_config with named VectorParams): maps
    # vector name -> dim. Stored as ``vec_{name}`` columns (a prefix keeps
    # the vector namespace disjoint from payload columns, mirroring
    # Qdrant's separate vector/payload namespaces). None = the classic
    # single unnamed vector in the ``embedding`` column at ``dim``.
    vectors: dict | None = None
    # payload field indexes (Qdrant PUT /collections/{c}/index): maps
    # field name -> schema type ("keyword", "integer", ...). Spark-first,
    # an index here is not a secondary structure but a CLUSTERED FILE
    # LAYOUT: every write range-clusters rows by the indexed fields within
    # each __bucket, so filter predicates on them skip whole files via
    # parquet min/max footer stats.
    payload_indexes: dict | None = None
    # Qdrant quantization_config from create_collection: {"scalar":
    # {"type": "int8"}}, {"product": {...}} or {"binary": {}}. The codes
    # live in the ``quant.v{N}`` sidecar, built lazily per committed
    # snapshot by ``quantize()`` and served by ``search_quantized()``.
    # All four sidecars (``textidx``, ``quant``, ``sparseidx``, ``ann``)
    # share one lifecycle, ``CollectionCatalog._sidecar``: the batch-engine
    # shape of Qdrant's background optimizer.
    quantization: dict | None = None
    # Qdrant sparse_vectors config (named sparse vectors beside the dense
    # ones): maps name -> config dict (may be empty). Stored as paired
    # ``sparse_{name}_indices`` (array<int>, strictly ascending, unique)
    # and ``sparse_{name}_values`` (array<float>) columns, validated
    # together on every write; served by ``search_sparse()`` (scan
    # scoring, or the ``sparseidx.v{N}/{name}`` postings sidecar when the
    # config declares ``{"index": ...}``).
    sparse_vectors: dict | None = None
    # ANN index config — the hnsw_config slot of create_collection, with
    # the two families this engine builds: {"ivf": {"k_centroids": N,
    # "nprobe": M}} (centroid-partitioned layout, file pruning) or
    # {"graph": {"degree": D, "beam": B, "max_hops": H}} (HNSW-class).
    # Built into the ``ann.v{N}`` sidecar.
    ann_index: dict | None = None
    # Creation nonce: a uuid stamped once at create() and never rewritten.
    # Serving-layer plan memos key on (nonce, data.v{N} path) to tell one
    # incarnation of a name from the next — drop+recreate restarts the
    # version counter, so a recurring ``data.v1`` path alone would hit a
    # stale memoized plan whose cached file listing points at deleted part
    # files. An inode stamp is NOT a substitute: the filesystem may recycle
    # the inode, and st_ino is meaningless on object-store/FUSE mounts
    # (ADVICE r10). None only for catalogs written before this field.
    nonce: str | None = None


class CollectionCatalog:
    """Filesystem-backed catalog of vector collections."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # telemetry for the last upsert's stale-bucket probe (tests assert
        # the manifest actually skips non-overlapping probes)
        self.last_upsert_probe: dict | None = None
        # read-relation memo keyed by the VERSIONED data dir: snapshot dirs
        # are immutable (every write path publishes a new data.v{N}), so
        # reusing the relation while the dir is current is exact — and it
        # skips the per-request file listing that dominated serving
        # latency (r9: ~0.85 s/query on a 192-dir IVF layout; the same
        # pathology applies to every endpoint that calls read())
        self._read_memo: dict[str, tuple[str, DataFrame]] = {}
        # same pattern for sidecar relations (the textidx postings, the
        # graph's coarse_sample), keyed by their path under a published
        # ``<kind>.v{N}`` dir: a routed match.text query then schedules
        # ZERO jobs at construction time, and graph seeding skips the
        # per-query file listing. Entries die with their dir — a
        # publish-replace, a prune or a drop forgets every key under it
        # (``_discard``/``_forget``).
        self._handles: dict[str, DataFrame] = {}
        os.makedirs(root, exist_ok=True)

    # -- registry ---------------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def list_collections(self) -> list[str]:
        """Reference: client.get_collections (/root/reference/insert.py:67)."""
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isfile(os.path.join(self.root, d, META_FILE))
        )

    def exists(self, name: str) -> bool:
        return os.path.isfile(os.path.join(self._dir(name), META_FILE))

    # -- aliases (Qdrant collection-alias API) ------------------------------
    # An alias is a catalog-level pointer: readers address "prod", the
    # pointer flips between physical collections in one atomic file
    # replace — the blue/green reindex primitive (build the new index under
    # a fresh name, verify, switch, drop the old). Qdrant exposes exactly
    # this as PUT /collections/aliases with a batched action list.
    def _aliases_path(self) -> str:
        return os.path.join(self.root, ALIASES_FILE)

    def list_aliases(self) -> dict[str, str]:
        try:
            with open(self._aliases_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _write_aliases(self, aliases: dict[str, str]) -> None:
        tmp = self._aliases_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(aliases, f)
        os.replace(tmp, self._aliases_path())

    def update_aliases(self, actions: list[dict]) -> dict[str, str]:
        """Apply a batch of alias actions ATOMICALLY (all-or-nothing, one
        file replace) — Qdrant's ``update_collection_aliases`` contract,
        where delete+create of the same alias in one batch is the atomic
        switch. Each action is ``{"create_alias": {"alias_name": a,
        "collection_name": c}}`` or ``{"delete_alias": {"alias_name": a}}``.
        """
        aliases = self.list_aliases()
        for action in actions:
            if "create_alias" in action:
                spec = action["create_alias"]
                alias, coll = spec["alias_name"], spec["collection_name"]
                if self.exists(alias):
                    raise ValueError(
                        f"alias {alias!r} would shadow an existing collection"
                    )
                if not self.exists(coll):
                    raise ValueError(f"collection {coll!r} does not exist")
                aliases[alias] = coll
            elif "delete_alias" in action:
                alias = action["delete_alias"]["alias_name"]
                if alias not in aliases:
                    raise ValueError(f"alias {alias!r} does not exist")
                del aliases[alias]
            else:
                raise ValueError(f"unknown alias action: {action!r}")
        self._write_aliases(aliases)
        return aliases

    def create_alias(self, alias: str, collection: str) -> None:
        self.update_aliases([{"create_alias": {
            "alias_name": alias, "collection_name": collection}}])

    def delete_alias(self, alias: str) -> None:
        self.update_aliases([{"delete_alias": {"alias_name": alias}}])

    def switch_alias(self, alias: str, collection: str) -> None:
        """Atomically repoint ``alias`` (delete+create in one batch)."""
        actions = []
        if alias in self.list_aliases():
            actions.append({"delete_alias": {"alias_name": alias}})
        actions.append({"create_alias": {
            "alias_name": alias, "collection_name": collection}})
        self.update_aliases(actions)

    def resolve(self, name: str) -> str:
        """Alias → physical collection name (identity for real collections;
        one hop only — aliases point at collections, never at aliases)."""
        if self.exists(name):
            return name
        return self.list_aliases().get(name, name)

    def meta(self, name: str) -> CollectionMeta:
        name = self.resolve(name)
        with open(os.path.join(self._dir(name), META_FILE)) as f:
            return CollectionMeta(**json.load(f))

    def _write_meta(self, name: str, meta: CollectionMeta) -> None:
        """Atomic pointer update — the commit point of every write."""
        path = os.path.join(self._dir(name), META_FILE)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(asdict(meta), f)
        os.replace(tmp, path)

    # -- versioned data layout ---------------------------------------------
    def _data_dir_v(self, name: str, version: int) -> str:
        return os.path.join(self._dir(name), f"{DATA_DIR}.v{version}")

    def _current_data_dir(self, name: str,
                          meta: "CollectionMeta | None" = None) -> str | None:
        # ``meta``: reuse an already-read CollectionMeta (the serving path
        # reads _meta.json once per request and threads it through)
        if meta is None:
            meta = self.meta(name)
        if meta.version <= 0:
            # pre-MVCC layout migration: a catalog written before versioning
            # kept its data in a bare "data" dir — serve it (the first write
            # commits data.v1 from it and leaves the legacy dir behind)
            legacy = os.path.join(self._dir(name), DATA_DIR)
            return legacy if os.path.isdir(legacy) else None
        return self._data_dir_v(name, meta.version)

    def _versions(self, name: str, kind: str = DATA_DIR) -> dict[int, str]:
        """``{N: path}`` of every dir named exactly ``<kind>.v<N>`` — data
        snapshots and sidecars alike; staging dirs never parse."""
        pat = re.compile(re.escape(kind) + r"\.v(\d+)")
        out = {}
        for d in os.listdir(self._dir(name)):
            m = pat.fullmatch(d)
            if m:
                out[int(m.group(1))] = os.path.join(self._dir(name), d)
        return out

    def list_versions(self, name: str) -> list[int]:
        """COMMITTED versions still on disk (time-travel targets), oldest
        first. A dir with a higher number than the meta pointer is the
        orphan of a crashed, never-committed write — not a snapshot."""
        name = self.resolve(name)
        current = self.meta(name).version
        return [v for v in sorted(self._versions(name)) if v <= current]

    def read_version(self, name: str, version: int) -> DataFrame:
        """Time travel: read a retained historical snapshot."""
        name = self.resolve(name)
        path = self._data_dir_v(name, version)
        if version > self.meta(name).version or not os.path.isdir(path):
            raise ValueError(
                f"collection {name!r} has no version {version} on disk "
                f"(retained: {self.list_versions(name)})"
            )
        return self.spark.read.parquet(path)

    def vacuum(self, name: str, keep: int = 2) -> list[int]:
        """Drop snapshots older than the newest ``keep`` COMMITTED versions,
        plus any uncommitted orphan dirs from crashed writes. Files shared
        with surviving versions are hardlinks, so only bytes unique to the
        dropped snapshots are reclaimed. Returns removed versions."""
        name = self.resolve(name)
        if keep < 1:
            raise ValueError("keep must be >= 1")
        current = self.meta(name).version
        on_disk = sorted(self._versions(name))
        committed = [v for v in on_disk if v <= current]
        orphans = [v for v in on_disk if v > current]
        drop = (committed[:-keep] if len(committed) > keep else []) + orphans
        for v in drop:
            shutil.rmtree(self._data_dir_v(name, v), ignore_errors=True)
        return drop

    @staticmethod
    def _link_files(src_dir: str, dst_dir: str) -> None:
        """Carry a bucket's immutable files into a new snapshot without
        copying bytes (copy fallback for filesystems without hardlinks)."""
        os.makedirs(dst_dir, exist_ok=True)
        for f in os.listdir(src_dir):
            s, d = os.path.join(src_dir, f), os.path.join(dst_dir, f)
            if os.path.isfile(s):
                try:
                    os.link(s, d)
                except OSError:
                    shutil.copy2(s, d)

    # -- DDL ----------------------------------------------------------------
    def create(self, name: str, dim: int, metric: str = "l2", id_type: str = "long",
               n_buckets: int = DEFAULT_BUCKETS, if_not_exists: bool = True,
               vectors: dict | None = None,
               quantization: dict | None = None,
               ann_index: dict | None = None,
               sparse_vectors: dict | None = None,
               shard_key: str = "user_id") -> CollectionMeta:
        """U1: create collection (idempotent, /root/reference/insert.py:68-73).

        ``vectors`` adds NAMED vectors (Qdrant ``vectors_config`` with named
        ``VectorParams``): ``{"text": 384, "image": 512}`` declares per-name
        dims, stored as ``vec_text``/``vec_image`` columns and dim-checked
        independently on every write; points may omit any named vector
        (null), as in Qdrant. The unnamed ``embedding``/``dim`` vector stays
        available alongside."""
        if name in self.list_aliases():
            raise ValueError(f"{name!r} is an alias; pick another name")
        if self.exists(name):
            if if_not_exists:
                return self.meta(name)
            raise ValueError(f"collection {name!r} already exists")
        if vectors is not None:
            vectors = {str(k): int(v) for k, v in vectors.items()}
            for k, v in vectors.items():
                if v <= 0:
                    raise ValueError(f"named vector {k!r} needs a positive dim")
        if quantization is not None:
            if set(quantization) == {"scalar"}:
                if quantization["scalar"].get("type", "int8") != "int8":
                    raise ValueError("scalar quantization supports type 'int8'")
            elif set(quantization) == {"product"}:
                spec = quantization["product"]
                comp = spec.get("compression", "x16")
                if "m" not in spec and comp not in {"x4", "x8", "x16", "x32", "x64"}:
                    raise ValueError(
                        "product quantization compression must be x4..x64")
            elif set(quantization) != {"binary"}:
                raise ValueError(
                    "quantization must be {'scalar': {'type': 'int8'}}, "
                    "{'product': {'compression': 'x16'}}, or {'binary': {...}}")
        if ann_index is not None and set(ann_index) not in ({"ivf"}, {"graph"}):
            raise ValueError(
                "ann_index must be {'ivf': {...}} or {'graph': {...}}")
        if sparse_vectors is not None:
            sparse_vectors = {str(k): dict(v or {})
                              for k, v in sparse_vectors.items()}
        if shard_key in ("id", "embedding", "__bucket") or shard_key.startswith("vec_"):
            raise ValueError(f"cannot shard on reserved column {shard_key!r}")
        meta = CollectionMeta(name, dim, metric, id_type, n_buckets,
                              vectors=vectors, quantization=quantization,
                              ann_index=ann_index,
                              sparse_vectors=sparse_vectors,
                              shard_key=shard_key,
                              nonce=uuid.uuid4().hex)
        # defensive: a fresh collection must never serve a memoized relation
        # from a previous same-name incarnation (drop+recreate restarts the
        # version counter, so data.v{N} paths can collide)
        self._read_memo.pop(name, None)
        self._forget(self._dir(name))
        os.makedirs(self._dir(name), exist_ok=True)
        with open(os.path.join(self._dir(name), META_FILE), "w") as f:
            json.dump(asdict(meta), f)
        return meta

    def drop(self, name: str) -> bool:
        """U3: delete collection (/root/reference/test_qdrant.py:92).
        Takes the PHYSICAL name (dropping through an alias would be a foot
        gun); aliases pointing at the dropped collection go with it, as in
        Qdrant."""
        if not self.exists(name):
            return False
        shutil.rmtree(self._dir(name))
        # the memo key is the data.v{N} PATH, which a drop+recreate of the
        # same name reuses (version restarts) — without this, read() after
        # recreate returns a relation whose cached file listing points at
        # deleted part files (FileNotFoundException / stale data)
        self._read_memo.pop(name, None)
        self._forget(self._dir(name))
        aliases = self.list_aliases()
        survivors = {a: c for a, c in aliases.items() if c != name}
        if len(survivors) != len(aliases):
            self._write_aliases(survivors)
        return True

    def create_from(self, name: str, source: str) -> CollectionMeta:
        """U4: copy-init — new collection seeded from an existing one
        (InitFrom, /root/reference/test_qdrant.py:128-133). CTAS shape."""
        source = self.resolve(source)
        src_meta = self.meta(source)
        meta = self.create(name, src_meta.dim, src_meta.metric, src_meta.id_type,
                           src_meta.n_buckets, if_not_exists=False,
                           vectors=src_meta.vectors,
                           quantization=src_meta.quantization,
                           ann_index=src_meta.ann_index,
                           sparse_vectors=src_meta.sparse_vectors,
                           shard_key=src_meta.shard_key)
        if src_meta.payload_indexes:
            # carry index declarations BEFORE the data write so the CTAS
            # lands already clustered
            meta.payload_indexes = dict(src_meta.payload_indexes)
            self._write_meta(name, meta)
        src_data = self._current_data_dir(source)
        if src_data is not None and os.path.isdir(src_data):
            df = self.spark.read.parquet(src_data)
            self._write(name, df, mode="overwrite")
        return self.meta(name)

    # -- data ----------------------------------------------------------------
    def _validate(self, name: str, df: DataFrame) -> DataFrame:
        """Checked vector dim on every write (fixes SURVEY.md §1.2 hole).
        With named vectors, every present ``vec_{name}`` column is checked
        against its own dim (null = point omits that vector, allowed
        exactly as in Qdrant); absent columns are fine. Sparse named
        vectors: indices/values same length, indices strictly ascending
        and unique.

        Fires no job: each checked column comes back as ``CASE WHEN <bad>
        THEN raise_error(<message>) ELSE <col> END`` (a sparse vector's
        check rides its indices column), so the job that writes the batch
        — or fills the cache ``upsert`` puts over it — checks every row it
        reads, and a bad row fails that job before anything is published.
        ``_raising_checks`` turns the failure back into the ``ValueError``
        carrying the message. A row an operation later in the same batch
        deletes before the write is never read, so it is never checked."""
        meta = self.meta(name)
        checks = []
        if "embedding" in df.columns:
            checks.append(("embedding", meta.dim))
        for vname, vdim in (meta.vectors or {}).items():
            col = self.vector_col_of(vname)
            if col in df.columns:
                checks.append((col, int(vdim)))
        guards = {}
        for col, dim in checks:
            guards[col] = (
                F.col(col).isNotNull() & (F.size(col) != dim),
                f"collection {name!r} vector dim mismatch (expected "
                f"{dict(checks)}); got a row with a different size")
        for sname in sorted(meta.sparse_vectors or {}):
            icol, vcol = self.sparse_cols_of(sname)
            if icol not in df.columns and vcol not in df.columns:
                continue
            if (icol in df.columns) != (vcol in df.columns):
                raise ValueError(
                    f"sparse vector {sname!r} needs BOTH {icol} and {vcol}")
            i, v = F.col(icol), F.col(vcol)
            guards[icol] = (
                (i.isNotNull() != v.isNotNull())
                | (i.isNotNull() & (
                    (F.size(i) != F.size(v))
                    | (F.size(F.array_distinct(i)) != F.size(i))
                    | (F.array_sort(i) != i)
                )),
                f"collection {name!r} sparse vector invalid: indices/values "
                "must pair, match in length, and indices must be strictly "
                "ascending and unique")
        return df.withColumns({
            c: F.when(bad, F.raise_error(F.lit(msg))).otherwise(F.col(c))
            for c, (bad, msg) in guards.items()})

    @staticmethod
    def sparse_cols_of(sparse_name: str) -> tuple[str, str]:
        """(indices, values) columns of a named sparse vector."""
        return (f"sparse_{sparse_name}_indices", f"sparse_{sparse_name}_values")

    @staticmethod
    def vector_col_of(vector_name: str) -> str:
        """Column holding a named vector (search with
        ``knn_search(..., vector_col=catalog.vector_col_of("text"))``)."""
        return f"vec_{vector_name}"

    def _write(self, name: str, df: DataFrame, mode: str = "overwrite") -> None:
        self._swap_in(name, df.drop("__bucket"))

    def read_for_shard(self, name: str, value) -> DataFrame:
        """Shard-pruned read (Qdrant shard_key_selector): adds BOTH the
        shard-key predicate and the derived ``__bucket`` partition
        predicate. The bucket is computed driver-side with the same hash
        Spark uses, so the scan's PartitionFilters prunes to 1/n_buckets of
        the files — this is what makes the mandatory tenant filter
        O(tenant) instead of O(table) at 100 TB."""
        name = self.resolve(name)
        meta = self.meta(name)
        df = self.read(name)
        key_pred = F.col(meta.shard_key) == F.lit(value)
        if "__bucket" not in df.columns:
            return df.filter(key_pred)
        bucket = self._shard_bucket_value(meta, df, value)
        return df.filter((F.col("__bucket") == F.lit(bucket)) & key_pred)

    def read_for_user(self, name: str, user_id: int) -> DataFrame:
        """The reference's tenant read — ``read_for_shard`` over the default
        user_id shard key (plain user_id filter when the collection shards
        on some other column)."""
        name = self.resolve(name)
        if self.meta(name).shard_key == "user_id":
            return self.read_for_shard(name, user_id)
        df = self.read(name)
        return df.filter(F.col("user_id") == F.lit(user_id))

    def read(self, name: str) -> DataFrame:
        name = self.resolve(name)
        data = self._current_data_dir(name)
        if data is None or not os.path.isdir(data):
            meta = self.meta(name)
            id_field = "id string" if meta.id_type == "string" else "id long"
            named = "".join(
                f", {self.vector_col_of(v)} array<float>"
                for v in sorted(meta.vectors or {})
            )
            sparse = "".join(
                f", {self.sparse_cols_of(s)[0]} array<int>, "
                f"{self.sparse_cols_of(s)[1]} array<float>"
                for s in sorted(meta.sparse_vectors or {})
            )
            return self.spark.createDataFrame(
                [],
                f"{id_field}, embedding array<float>, text_id long, text string, "
                f"user_id long, site string, lang string{named}{sparse}",
            )
        memo = self._read_memo.get(name)
        if memo is not None and memo[0] == data:
            return memo[1]
        df = self.spark.read.parquet(data)
        self._read_memo[name] = (data, df)
        return df

    def _has_data(self, name: str) -> bool:
        data = self._current_data_dir(name)
        return data is not None and os.path.isdir(data)

    _INTEGRAL = {"tinyint", "smallint", "int", "bigint"}

    def _bucket_of(self, meta: CollectionMeta, df: DataFrame):
        # cast integral keys before hashing: F.hash(int) != F.hash(long) for
        # equal values, so an int-typed shard key in a batch would compute
        # different buckets than the long-typed stored data — normalize to
        # long; non-numeric keys (string shard keys) hash raw
        k = meta.shard_key
        dt = {f.name: f.dataType.simpleString() for f in df.schema.fields}.get(k, "")
        col = F.col(k).cast("long") if dt in self._INTEGRAL else F.col(k)
        return F.pmod(F.hash(col), F.lit(meta.n_buckets))

    def _shard_bucket_value(self, meta: CollectionMeta, df: DataFrame, value):
        """Driver-side twin of ``_bucket_of`` for one key value (the same
        hash Spark uses, so the derived __bucket predicate is exact).

        Long and string keys — every shard key in practice — hash in pure
        Python (Murmur3_x86_32, Spark's ``F.hash``; parity-tested in
        tests/test_text_index.py): the r9 version paid a one-row Spark job
        of pure latency per serving request here. Exotic key types keep the
        JVM fallback."""
        from vectordb_cloud_spark.functions.hashing import (murmur3_long,
                                                            murmur3_string)

        dt = {f.name: f.dataType.simpleString()
              for f in df.schema.fields}.get(meta.shard_key, "")
        if dt in self._INTEGRAL or (dt == "" and isinstance(value, int)):
            return murmur3_long(int(value)) % meta.n_buckets
        if dt == "string" or (dt == "" and isinstance(value, str)):
            return murmur3_string(str(value)) % meta.n_buckets
        lit = F.lit(value).cast("long") if dt in self._INTEGRAL else F.lit(value)
        return (
            self.spark.range(1)
            .select(F.pmod(F.hash(lit), F.lit(meta.n_buckets)))
            .first()[0]
        )

    # -- per-bucket id-range manifest ---------------------------------------
    # Upsert must find buckets holding an existing row with a batch id (the
    # row's user_id may have changed, moving it across buckets). Probing by
    # scanning every bucket's (id, __bucket) is O(table) per batch; the
    # manifest records each bucket's [min(id), max(id)] at write time so the
    # probe touches only buckets whose id range can overlap the batch — at
    # 100 TB that is the difference between a metadata check and a full scan.
    # (Delta's per-file stats / bloom filters are the production analogue.)
    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._dir(name), MANIFEST_FILE)

    def _read_manifest(self, name: str) -> dict | None:
        try:
            with open(self._manifest_path(name)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _update_manifest(self, name: str, buckets=None) -> None:
        """Refresh the per-bucket id min/max manifest from on-disk data.
        ``buckets=None`` rebuilds the whole manifest; otherwise only the given
        buckets' entries are recomputed and the rest are kept.

        Fires no job: the ranges come from the parquet footers of the bucket
        dirs the write just published (row-group statistics of ``id``), the
        values a Spark ``min``/``max`` over those files returns. All-null
        row groups are skipped, as ``min``/``max`` skip nulls; a row group
        with non-null ids but no statistics makes its bucket ``[null,
        null]``, which the upsert probe treats as an unknown range. At
        production scale this becomes per-file stats in a transaction log.
        The manifest records the snapshot version it describes; readers
        ignore a manifest whose version doesn't match the meta pointer (a
        crash between version commit and manifest write must degrade to the
        full probe, never to a stale skip)."""
        meta = self.meta(name)
        data = self._current_data_dir(name)
        dirs = {d.split("=", 1)[1]: os.path.join(data, d)
                for d in os.listdir(data) if d.startswith("__bucket=")}
        old = self._read_manifest(name)
        if buckets is not None and (
            old is None or old.get("version") != meta.version - 1
        ):
            buckets = None  # no valid patch base — full rebuild
        entries = {} if buckets is None else dict(old["buckets"])
        if buckets is not None:
            for b in buckets:
                entries.pop(str(b), None)  # bucket may now be empty
        scan = sorted(dirs, key=int) if buckets is None else [
            str(b) for b in buckets if str(b) in dirs]
        ranges = {b: _footer_id_range(dirs[b]) for b in scan}
        if not dirs or any(r is False for r in ranges.values()):
            # unpartitioned image or no id column: nothing to record
            try:
                os.remove(self._manifest_path(name))
            except FileNotFoundError:
                pass
            return
        entries.update((b, r) for b, r in ranges.items() if r is not None)
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"id_col": "id", "version": meta.version, "buckets": entries}, f
            )
        os.replace(tmp, self._manifest_path(name))

    def upsert(self, name: str, new_rows: DataFrame, id_col: str = "id") -> None:
        """U2: batched upsert with replace-by-id (last-write-wins) semantics
        (/root/reference/insert.py:31-63).

        Bucket-scoped MERGE emulation: the affected ``__bucket`` partitions —
        the batch's buckets plus any bucket holding an existing row with a
        batch id (a row whose user_id changed moves buckets and its stale
        copy must be evicted) — are read (PartitionFilters pruning) and
        rewritten: existing_pruned LEFT ANTI JOIN new ON id, UNION new, swap
        those bucket dirs. Finding stale buckets costs one skinny
        (id, __bucket) probe scan with a broadcast semi-join — read-only,
        row-group stats skip on id — while the REWRITE stays
        ~|batch buckets|/n_buckets of the table; untouched buckets' files
        are never rewritten. On a real deployment this becomes Delta
        ``MERGE INTO`` with dynamic partition overwrite.

        The batch is computed once: the row-checked frame (``_validate``)
        is cached, so the first job over it — the batch-stats aggregate,
        or the write itself — fills the cache and checks every row in the
        same pass; the probe, the merge and the write read the cache.

        Raises ``ValueError`` when the batch's column set differs from a
        non-empty collection's (silent schema drift previously replaced the
        whole table with just the batch), or when a row fails a vector
        check; either way nothing is published and the staging dir is
        removed.
        """
        name = self.resolve(name)
        self.last_upsert_probe = None  # telemetry is per-call, never stale
        new_rows = self._validate(name, new_rows).cache()
        try:
            with _raising_checks():
                self._merge(name, new_rows, id_col)
        finally:
            new_rows.unpersist()

    def _merge(self, name: str, new_rows: DataFrame, id_col: str) -> None:
        existing = self.read(name)
        partitioned = "__bucket" in existing.columns
        existing = existing.drop("__bucket")
        if self._has_data(name) and set(existing.columns) != set(new_rows.columns):
            raise ValueError(
                f"collection {name!r} upsert schema drift: existing columns "
                f"{sorted(existing.columns)} != batch columns {sorted(new_rows.columns)}"
            )
        if not self._has_data(name):
            existing = new_rows.limit(0)
        # last-write-wins inside the batch itself: keep the highest-sequence
        # row per id (reference replay order, /root/reference/insert.py:55-63)
        w_new = self._batch_lww(new_rows, id_col)
        meta = self.meta(name)
        if partitioned and self._has_data(name) and meta.shard_key in new_rows.columns:
            batch_stats = (
                w_new.select(
                    self._bucket_of(meta, w_new).alias("__b"),
                    F.col(id_col).alias("__id"),
                )
                .agg(
                    F.collect_set("__b").alias("bs"),
                    F.min("__id").alias("lo"),
                    F.max("__id").alias("hi"),
                )
                .first()
            )
            new_buckets = set(batch_stats["bs"])
            # replace-by-id must also evict a row whose user_id CHANGED in
            # this batch (its old row lives in a different bucket). The
            # per-bucket id-range manifest narrows the probe to buckets whose
            # [min,max] id range overlaps the batch — buckets already being
            # rewritten need no probe (the anti-join evicts them anyway).
            # Without a manifest, fall back to the full skinny probe scan.
            manifest = self._read_manifest(name)
            if (
                manifest is not None
                and manifest.get("id_col") == id_col
                and manifest.get("version") == meta.version
            ):
                def _overlaps(lo, hi):
                    if None in (lo, hi, batch_stats["lo"], batch_stats["hi"]):
                        return True  # unknown range: probe it (NULL ids)
                    return not (hi < batch_stats["lo"] or lo > batch_stats["hi"])

                probe_buckets = sorted(
                    int(b)
                    for b, (lo, hi) in manifest["buckets"].items()
                    if int(b) not in new_buckets and _overlaps(lo, hi)
                )
            else:
                probe_buckets = None  # unknown layout: probe everything
            self.last_upsert_probe = {
                "probe_buckets": probe_buckets,
                "skipped": probe_buckets == [],
            }
            stale_buckets: set = set()
            if probe_buckets != []:
                probe = self.read(name).select(id_col, "__bucket")
                if probe_buckets is not None:
                    probe = probe.filter(F.col("__bucket").isin(probe_buckets))
                batch_ids = w_new.select(id_col)
                stale_buckets = {
                    r[0]
                    for r in probe.join(
                        F.broadcast(batch_ids), on=id_col, how="left_semi"
                    )
                    .select("__bucket")
                    .distinct()
                    .collect()
                }
            buckets = sorted(new_buckets | stale_buckets)
            pruned = (
                self.read(name)
                .filter(F.col("__bucket").isin(buckets))
                .drop("__bucket")
            )
            merged = pruned.join(F.broadcast(w_new), on=id_col, how="left_anti").unionByName(w_new)
            self._swap_buckets(name, merged, buckets)
        else:
            merged = existing.join(F.broadcast(w_new), on=id_col, how="left_anti").unionByName(w_new)
            self._swap_in(name, merged)

    def _cluster_for_indexes(self, out: DataFrame, meta: CollectionMeta,
                             n_bucket_dirs: int) -> DataFrame | None:
        """Apply the payload-index clustered layout to a bucketed write.

        Range-partition on ``(__bucket, *indexed_fields)`` so each output
        task — hence each parquet file — covers a contiguous slice of the
        indexed fields' value space inside its bucket; a range partition may
        straddle a bucket boundary, but the writer splits it per dir and
        each resulting file still covers one contiguous slice. Rows inside a
        file stay id-sorted, keeping the upsert probe's id row-group
        skipping while the FILE-level field stats stay tight. Returns None
        when no indexed field is present (caller keeps its default path).
        """
        fields = [f for f in sorted(meta.payload_indexes or {})
                  if f in out.columns]
        if not fields:
            return None
        # fan-out floor is INDEX_FILES_PER_BUCKET per bucket (stats
        # granularity); the ceiling tracks the INPUT's partition count so
        # output files stay near maxPartitionBytes-sized at any table size
        # (a constant per-bucket fan-out would mean multi-GB files at 100 TB)
        n_parts = max(1, n_bucket_dirs * INDEX_FILES_PER_BUCKET,
                      out.rdd.getNumPartitions())
        out = out.repartitionByRange(
            n_parts, F.col("__bucket"), *[F.col(f) for f in fields])
        sort_cols = ["__bucket"] + (["id"] if "id" in out.columns else [])
        return out.sortWithinPartitions(*sort_cols)

    def _swap_in(self, name: str, df: DataFrame) -> None:
        """Write a full new table image as the next snapshot version, then
        atomically advance the meta pointer. In-flight readers of the prior
        snapshot keep their files (until vacuum) — no torn reads."""
        meta = self.meta(name)
        new_v = meta.version + 1
        new_dir = self._data_dir_v(name, new_v)
        staging = new_dir + ".staging"
        try:
            if meta.shard_key in df.columns:
                # _bucket_of casts integral shard keys to long first —
                # F.hash(int) != F.hash(long), so an uncast hash here would
                # land an int-typed first batch in buckets read_for_shard's
                # long-hash probe can never find
                out = df.withColumn("__bucket", self._bucket_of(meta, df))
                clustered = self._cluster_for_indexes(out, meta, meta.n_buckets)
                if clustered is not None:
                    out = clustered
                out.write.mode("overwrite").partitionBy("__bucket").parquet(staging)
                # a fully-empty partitioned write leaves no data files -> the
                # dir becomes unreadable; fall back to a schema-only
                # unpartitioned file
                if not any(
                    f.endswith(".parquet")
                    for _, _, files in os.walk(staging)
                    for f in files
                ):
                    df.write.mode("overwrite").parquet(staging)
            else:
                df.write.mode("overwrite").parquet(staging)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)  # publish nothing
            raise
        if os.path.isdir(new_dir):
            shutil.rmtree(new_dir)  # orphan of a crashed, never-committed write
        os.rename(staging, new_dir)
        self._commit_version(name, new_v)
        self._update_manifest(name)

    def _commit_version(self, name: str, new_v: int, retain: int = 2) -> None:
        meta = self.meta(name)
        meta.version = new_v
        self._write_meta(name, meta)
        self.vacuum(name, keep=retain)

    def _swap_buckets(self, name: str, df: DataFrame, buckets: list) -> None:
        """Rewrite only the given ``__bucket`` partition dirs into a NEW
        snapshot version. ``df`` holds the full new content of exactly those
        buckets (rows outside them must already be filtered out); untouched
        buckets' immutable files are hardlinked into the new snapshot —
        O(touched) data written, O(table) only in inode links — and the meta
        pointer advances atomically at the end."""
        meta = self.meta(name)
        cur = self._current_data_dir(name)
        new_v = meta.version + 1
        new_dir = self._data_dir_v(name, new_v)
        staging = new_dir + ".staging"
        out = df.withColumn("__bucket", self._bucket_of(meta, df))
        clustered = self._cluster_for_indexes(out, meta, len(buckets))
        if clustered is not None:
            out = clustered
        elif "id" in df.columns:
            # id-ordered row groups: parquet min/max stats then skip row
            # groups on id lookups — upsert's stale-bucket probe and
            # delete_by_ids read a fraction of each touched file
            out = out.sortWithinPartitions("__bucket", "id")
        try:
            out.write.mode("overwrite").partitionBy("__bucket").parquet(staging)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)  # publish nothing
            raise
        touched = {f"__bucket={b}" for b in buckets}
        if os.path.isdir(new_dir):
            shutil.rmtree(new_dir)  # orphan of a crashed, never-committed write
        os.makedirs(new_dir)
        if cur is not None and os.path.isdir(cur):
            for d in os.listdir(cur):
                if d.startswith("__bucket=") and d not in touched:
                    self._link_files(os.path.join(cur, d), os.path.join(new_dir, d))
        for b in buckets:
            src = os.path.join(staging, f"__bucket={b}")
            if os.path.isdir(src):  # absent when every row of the bucket was deleted
                os.rename(src, os.path.join(new_dir, f"__bucket={b}"))
        shutil.rmtree(staging, ignore_errors=True)
        if not any(
            f.endswith(".parquet") for _, _, files in os.walk(new_dir) for f in files
        ):
            # every bucket emptied: leave a schema-only unpartitioned image
            # so the collection stays readable
            df.limit(0).write.mode("overwrite").parquet(new_dir)
        self._commit_version(name, new_v)
        self._update_manifest(name, buckets)

    def delete_where(self, name: str, predicate) -> int:
        """D1-D3: delete by predicate (implements the *intended* semantics of
        the reference's broken scroll-then-filter delete,
        /root/reference/app.py:94-143).

        NULL-safe: rows where the predicate evaluates to NULL (e.g. NULL text
        under contains/rlike) never matched, so they survive. One full scan
        finds the matched count + affected buckets; only those bucket
        partitions are re-read (pruned) and rewritten.
        """
        name = self.resolve(name)
        if not self._has_data(name):
            return 0
        df = self.read(name)
        pred = F.coalesce(predicate, F.lit(False))
        if "__bucket" in df.columns:
            stats = df.filter(pred).agg(
                F.count("*").alias("n"), F.collect_set("__bucket").alias("bs")
            ).first()
            n_deleted, buckets = int(stats["n"]), sorted(stats["bs"])
            if n_deleted == 0:
                return 0
            kept = (
                df.filter(F.col("__bucket").isin(buckets))
                .filter(~pred)
                .drop("__bucket")
            )
            self._swap_buckets(name, kept, buckets)
            return n_deleted
        n_deleted = df.filter(pred).count()
        if n_deleted == 0:
            return 0
        self._swap_in(name, df.filter(~pred))
        return n_deleted

    def update_payload(self, name: str, values: dict, predicate=None) -> int:
        """Set payload fields on matching points — Qdrant's
        ``/points/payload`` (set_payload) surface, which the reference
        exercises through the client. ``values`` maps column name ->
        Column expression or literal; ``predicate`` scopes the update
        (None = all points). Same bucket-scoped MVCC rewrite as the DML
        deletes: one pruned scan finds the matched count + affected
        buckets, only those bucket partitions are rewritten, every other
        byte is untouched. NULL predicates never match (NULL-safe like
        delete_where). Returns the number of updated points.

        The embedding and id columns are refused — vector replacement is
        ``upsert`` (re-embedding must go through the dim check), id
        rewrites would break LWW identity.
        """
        name = self.resolve(name)
        meta = self.meta(name)
        named_vec_cols = {self.vector_col_of(v) for v in (meta.vectors or {})}
        forbidden = ({"id", "id_str", "embedding"} | named_vec_cols) & set(values)
        if forbidden:
            raise ValueError(
                f"update_payload cannot touch {sorted(forbidden)}: vectors "
                "go through upsert (dim-checked), ids are immutable"
            )
        if not self._has_data(name):
            return 0
        df = self.read(name)
        missing = set(values) - set(df.columns)
        if missing:
            raise ValueError(f"unknown payload columns: {sorted(missing)}")
        pred = (F.lit(True) if predicate is None
                else F.coalesce(predicate, F.lit(False)))
        exprs = {
            c: (v if isinstance(v, Column) else F.lit(v)) for c, v in values.items()
        }

        def apply_updates(rows: DataFrame) -> DataFrame:
            out = rows
            for c, v in exprs.items():
                out = out.withColumn(c, F.when(pred, v).otherwise(F.col(c)))
            return out

        if "__bucket" in df.columns:
            stats = df.filter(pred).agg(
                F.count("*").alias("n"), F.collect_set("__bucket").alias("bs")
            ).first()
            n_updated, buckets = int(stats["n"]), sorted(stats["bs"])
            if n_updated == 0:
                return 0
            touched = apply_updates(
                df.filter(F.col("__bucket").isin(buckets))
            ).drop("__bucket")
            self._swap_buckets(name, touched, buckets)
            return n_updated
        n_updated = df.filter(pred).count()
        if n_updated == 0:
            return 0
        self._swap_in(name, apply_updates(df))
        return n_updated

    def count_where(self, name: str, predicate=None) -> int:
        """Filtered point count — Qdrant's ``/points/count``. A pruned scan
        (the predicate pushes to the bucket files); no data movement."""
        name = self.resolve(name)
        if not self._has_data(name):
            return 0
        df = self.read(name)
        if predicate is not None:
            df = df.filter(F.coalesce(predicate, F.lit(False)))
        return df.count()

    # -- payload field indexes ---------------------------------------------
    # Qdrant PUT /collections/{c}/index declares a payload field as indexed
    # so filtered searches stop scanning the whole segment set (the filter
    # grammar the reference's client speaks, /root/reference/search.py:38-44,
    # is served by these indexes in the real service). Spark has no
    # secondary-index structure to build — the idiomatic equivalent is a
    # clustered file layout: declare the field, rewrite the collection so
    # each __bucket's files cover disjoint ranges of it, and every filter
    # on the field prunes files through parquet min/max footer stats (plus
    # row-group stats inside the survivors). Maintained by construction:
    # all later writes (upsert/delete/set_payload) re-cluster the buckets
    # they rewrite.
    def create_payload_index(self, name: str, field: str,
                             field_schema: str = "keyword") -> CollectionMeta:
        """Declare ``field`` indexed and re-cluster existing data by it.

        ``field_schema`` follows Qdrant's names ("keyword", "integer",
        "float", ...) — recorded as metadata and surfaced in
        ``collection_info()['payload_schema']``; the physical layout is the
        same range clustering for all of them (parquet stats are typed).
        Indexing a field the data doesn't have yet is allowed (as in
        Qdrant); clustering starts at the first write that carries it.
        """
        name = self.resolve(name)
        if field_schema not in PAYLOAD_INDEX_TYPES:
            raise ValueError(
                f"unknown field_schema {field_schema!r} "
                f"(one of {sorted(PAYLOAD_INDEX_TYPES)})")
        if field in _RESERVED_FIELDS or field.startswith("vec_"):
            raise ValueError(f"cannot index reserved field {field!r}")
        meta = self.meta(name)
        idx = dict(meta.payload_indexes or {})
        no_change = idx.get(field) == field_schema
        idx[field] = field_schema
        meta.payload_indexes = idx
        self._write_meta(name, meta)
        if self._has_data(name) and not no_change:
            df = self.read(name)
            if field in df.columns:
                self._swap_in(name, df.drop("__bucket"))
        return self.meta(name)

    def drop_payload_index(self, name: str, field: str) -> CollectionMeta:
        """Forget the index declaration (Qdrant DELETE /index/{field}).
        Cheap: the clustered files stay as written — harmless, just no
        longer maintained — and the next full rewrite falls back to the
        plain id-sorted layout."""
        name = self.resolve(name)
        meta = self.meta(name)
        idx = dict(meta.payload_indexes or {})
        idx.pop(field, None)
        meta.payload_indexes = idx or None
        self._write_meta(name, meta)
        return meta

    # -- versioned sidecars -------------------------------------------------
    # Every secondary structure — text postings (``textidx``), quantized
    # codes (``quant``), sparse postings (``sparseidx``), the ANN index
    # (``ann``) — lives in ``<kind>.v{N}[/sub]`` beside the data dirs and
    # shares one lifecycle: built lazily for the CURRENT committed version,
    # published atomically, older versions pruned — the batch-engine shape
    # of Qdrant's background optimizer.
    def _sidecar_dir(self, name: str, kind: str, version: int,
                     sub: str | None = None) -> str:
        d = os.path.join(self._dir(name), f"{kind}.v{version}")
        return os.path.join(d, sub) if sub else d

    @staticmethod
    def _fresh(pdir: str, vector_col: str | None) -> dict | None:
        """The published params when ``pdir`` is published and — for kinds
        built per vector column (a ``params.json`` names it) — built for
        ``vector_col``; None otherwise (``{}`` stands for a kind without
        params). One filesystem call either way."""
        if vector_col is None:
            return {} if os.path.isdir(pdir) else None
        try:
            with open(os.path.join(pdir, "params.json")) as f:
                params = json.load(f)
        except FileNotFoundError:
            return None
        return (params if params.get("vector_col", "embedding") == vector_col
                else None)

    def _sidecar(self, name: str, meta: CollectionMeta, kind: str, build,
                 sub: str | None = None,
                 vector_col: str | None = None) -> tuple[str, dict]:
        """The current version's published ``kind`` sidecar and its params,
        built first when missing or built for another vector column.

        ``build(stage)`` fills a private staging dir and returns the params
        to record (``params.json``, plus ``vector_col``) or None. The stage
        is named outside every ``<kind>.v*`` name, so neither the prune nor
        a glob over published sidecars sees an in-flight or crashed build.
        The publish is one ``os.rename``: the first publisher wins, and a
        concurrent builder that loses discards its stage and serves the
        winner's dir. A published dir built for another vector column is
        discarded and replaced. A published dir is never written again,
        so its files can be read through memoized handles
        (``_read_handle``)."""
        pdir = self._sidecar_dir(name, kind, meta.version, sub)
        params = self._fresh(pdir, vector_col)
        if params is not None:
            return pdir, params
        if not self._has_data(name):
            raise ValueError(f"collection {name!r} is empty")
        stage = os.path.join(self._dir(name), f"staging.{uuid.uuid4().hex}")
        os.makedirs(stage)
        try:
            params = build(stage)
            if vector_col is not None:
                text = json.dumps({**params, "vector_col": vector_col})
                with open(os.path.join(stage, "params.json"), "w") as f:
                    f.write(text)
                params = json.loads(text)  # as a later _fresh parses it
            os.makedirs(os.path.dirname(pdir), exist_ok=True)
            while True:
                try:
                    os.rename(stage, pdir)
                    break
                except OSError as e:  # pdir exists (non-empty)
                    if e.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                        raise
                    winner = self._fresh(pdir, vector_col)
                    if winner is not None:
                        params = winner  # a concurrent build published first
                        break
                    # built for another vector column: replace it
                    self._discard(name, pdir)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        for v, d in self._versions(name, kind).items():
            if v != meta.version:
                self._discard(name, d)
        return pdir, params or {}

    def _discard(self, name: str, path: str) -> None:
        """Unpublish ``path`` atomically (rename aside, then delete) and
        forget the read handles under it; a concurrent discard of the
        same dir is a no-op."""
        trash = os.path.join(self._dir(name), f"staging.{uuid.uuid4().hex}")
        try:
            os.rename(path, trash)
        except FileNotFoundError:
            return
        self._forget(path)
        shutil.rmtree(trash, ignore_errors=True)

    def _forget(self, path: str) -> None:
        for k in list(self._handles):
            if k == path or k.startswith(path + os.sep):
                self._handles.pop(k, None)

    def _read_handle(self, path: str) -> DataFrame:
        df = self._handles.get(path)
        if df is None:
            df = self._handles[path] = self.spark.read.parquet(path)
        return df

    # -- full-text payload index (Qdrant field_schema="text") --------------
    # Range clustering (the layout every other schema gets) cannot prune a
    # SUBSTRING/token predicate — min/max stats say nothing about interior
    # tokens. A "text"-indexed field therefore also gets a token-postings
    # sidecar (``textidx.v{N}/{field}``: (token, id) rows, one dir per
    # token-hash bucket), maintained by the one sidecar lifecycle
    # (``_sidecar``). ``match.text`` filters on the field can then prefilter to
    # the ids whose postings contain EVERY query token (the scan touches
    # only the query's buckets) and verify the substring on those rows —
    # the classic inverted-index acceleration, relationally.
    _TEXT_IDX_BUCKETS = 64

    def _text_index_schema(self, meta: "CollectionMeta", field: str) -> str:
        schema = (meta.payload_indexes or {}).get(field)
        if schema not in TEXT_INDEX_SCHEMAS:
            raise ValueError(
                f"field {field!r} has no text payload index declared "
                f"(create_payload_index(field, 'text'))")
        return schema

    def _tokenize_query(self, schema: str, text: str) -> list[str]:
        """Driver-side tokenization of a match.text query — the exact twin
        of the tokenizer ``build_text_index`` used (parity-tested)."""
        from vectordb_cloud_spark.functions.hashing import (
            whitespace_tokens_py,
            word_tokens_py,
        )

        if schema == "text_whitespace":
            # NOT str.split(): Java \s+ (the index writer's split) treats
            # NBSP/Unicode spaces as token CONTENT, so the query twin must
            # too or exact-match docs silently drop out (r10 review)
            return sorted(set(whitespace_tokens_py(text)))
        return sorted(set(word_tokens_py(text)))

    def build_text_index(self, name: str, field: str) -> str:
        """Materialize the postings sidecar for the CURRENT version (no-op
        when fresh). Requires ``create_payload_index(field, "text")``.

        Tokenization follows the declared schema: ``"text"`` uses Qdrant's
        default ``word`` tokenizer (split on any non-alphanumeric — so
        ``match.text: "cookies"`` finds a doc containing "cookies.");
        ``"text_whitespace"`` keeps whole whitespace-delimited tokens with
        punctuation attached (Qdrant's ``whitespace`` tokenizer)."""
        from vectordb_cloud_spark.functions.text import word_tokens, words

        name = self.resolve(name)
        meta = self.meta(name)
        schema = self._text_index_schema(meta, field)

        def build(stage: str) -> None:
            df = self.read(name).select("id", field).filter(
                F.col(field).isNotNull())
            if schema == "text_whitespace":
                # array_remove "": F.split keeps trailing empty strings (e.g.
                # text ending in a tab), which would otherwise mint an
                # empty-token posting the query twin can never produce
                toks = F.array_remove(
                    F.transform(words(F.col(field)), lambda w: F.lower(w)),
                    "")
            else:
                toks = word_tokens(F.col(field))
            postings = df.select(
                "id",
                F.explode(F.array_distinct(toks)).alias("token"),
            ).withColumn(
                "tbucket", F.pmod(F.xxhash64("token"),
                                  F.lit(self._TEXT_IDX_BUCKETS)).cast("int")
            )
            # one shuffle on the bucket key -> one file per bucket dir (the
            # sparse_persist_inverted lesson: unshuffled, every task writes
            # into every bucket directory)
            (postings.repartition("tbucket")
             .write.mode("overwrite").partitionBy("tbucket").parquet(stage))

        return self._sidecar(name, meta, "textidx", build, sub=field)[0]

    def text_match_ids(self, name: str, field: str, text: str) -> DataFrame:
        """Ids whose ``field`` contains EVERY token of ``text``
        (case-insensitive) according to the postings sidecar — the
        candidate set for a ``match.text`` filter. The ``tbucket IN``
        predicate prunes to the query tokens' partition dirs; the per-doc
        AND is one count aggregate. Rebuilds the sidecar lazily when the
        data version moved."""
        from vectordb_cloud_spark.functions.hashing import pmod64, xxhash64

        name = self.resolve(name)
        schema = self._text_index_schema(self.meta(name), field)
        tokens = self._tokenize_query(schema, text)
        if not tokens:
            raise ValueError("match.text needs at least one token")
        post = self._read_handle(self.build_text_index(name, field))
        # bucket routing reuses the writer's hash (Spark xxhash64, seed 42)
        # via its pure-Python twin — zero extra Spark jobs per query
        # (bit-parity with the JVM pinned in tests/test_text_index.py)
        buckets = sorted({pmod64(xxhash64(t), self._TEXT_IDX_BUCKETS)
                          for t in tokens})
        cand = (
            post.filter(F.col("tbucket").isin(buckets)
                        & F.col("token").isin(tokens))
            .groupBy("id")
            .agg(F.countDistinct("token").alias("__nt"))
            .filter(F.col("__nt") == len(tokens))
            .select("id")
        )
        return cand

    # candidate sets at or below this size restrict the base scan with a
    # driver-side IN predicate instead of a semi join: the data layout is
    # id-sorted within buckets (upsert/_swap_buckets), so parquet min/max
    # row-group stats prune the probe to the row groups that actually hold
    # candidates — the base-table cost tracks the CANDIDATE count, not the
    # corpus (measured in SCALE.md textindex rows). Larger sets keep the
    # broadcast left-semi join (never collect unbounded ids).
    _ID_PUSHDOWN_MAX = 4096

    def restrict_to_ids(self, points: DataFrame, cand: DataFrame,
                        id_col: str = "id") -> DataFrame:
        """Restrict ``points`` to the ids in ``cand`` (one column). Small
        candidate sets (≤ _ID_PUSHDOWN_MAX, integral ids) become a parsed
        SQL ``IN`` predicate — pushes to the scan as row-group pruning on
        the id-sorted layout, and costs one bounded collect (the postings
        AND is a few-bucket aggregate). Anything else: broadcast left-semi
        join. Delegates to the shared ``operators.knn.restrict_to_ids``."""
        from vectordb_cloud_spark.operators.knn import restrict_to_ids

        return restrict_to_ids(points, cand, id_col=id_col,
                               max_ids=self._ID_PUSHDOWN_MAX)

    def rewrite_text_filter(self, name: str,
                            query_filter: dict | None) -> dict | None:
        """Rewrite ``match.text`` clauses on text-INDEXED fields into
        index-equivalent filter-DSL clauses — the one way the service's
        read path (/query and /search) serves text-indexed filters. A
        filter DOCUMENT threads through the universal query API's richer
        semantics unchanged (fusion applies the top-level filter to
        merged candidates, prefetch legs carry their own filters).

        A TOP-LEVEL-MUST routed clause whose postings AND yields
        ≤ _ID_PUSHDOWN_MAX ids becomes ``{"has_id": [...]}`` (the postings
        sidecar did the work; the list compiles to one parsed SQL IN —
        filters.py fast path). Every other indexed match.text clause —
        larger must clauses, and clauses under ``should`` / ``must_not``
        / ``min_should`` / nested boolean docs at any depth — becomes the
        whole-token ``match.tokens`` scan clause (same INDEXED MatchText
        semantics, no postings probe, so boolean context is irrelevant).
        Either way an indexed field keeps Qdrant's whole-token semantics
        in EVERY boolean position of every endpoint, instead of flipping
        to substring outside top-level must (ADVICE r10 — a must_not
        substring clause would exclude MORE points than Qdrant).
        ``nested:`` conditions' sub-filters are left alone: their keys
        resolve against array ELEMENTS, a different namespace than the
        top-level payload indexes. Unindexed match.text keeps scan-stage
        substring semantics everywhere, as before."""
        if not query_filter:
            return query_filter
        name = self.resolve(name)
        meta = self.meta(name)
        indexed = {f: s for f, s in (meta.payload_indexes or {}).items()
                   if s in TEXT_INDEX_SCHEMAS}
        if not indexed:
            return query_filter

        changed = False

        def _tokens_form(c: dict) -> dict | None:
            """match.tokens twin of an indexed match.text clause (None =
            not such a clause / nothing to rewrite)."""
            if not (isinstance(c, dict) and c.get("key") in indexed
                    and isinstance(c.get("match"), dict)
                    and "text" in c["match"]):
                return None
            schema = indexed[c["key"]]
            tokens = self._tokenize_query(schema, str(c["match"]["text"]))
            if not tokens:
                return None
            return {"key": c["key"], "match": {
                "tokens": tokens,
                "tokenizer": ("whitespace" if schema == "text_whitespace"
                              else "word"),
            }}

        def _walk_clause(c, probe: bool):
            """Rewrite one clause-list item. ``probe=True`` only for
            top-level must items (AND context: a has_id candidate cut is
            sound and pays for its postings probe)."""
            nonlocal changed
            if not isinstance(c, dict):
                return c
            if any(k in c for k in ("must", "should", "must_not",
                                    "min_should")):
                return _walk_doc(c)  # nested boolean doc
            tf = _tokens_form(c)
            if tf is None:
                return c
            changed = True
            if probe:
                rows = (self.text_match_ids(name, c["key"],
                                            str(c["match"]["text"]))
                        .limit(self._ID_PUSHDOWN_MAX + 1).collect())
                if len(rows) <= self._ID_PUSHDOWN_MAX:
                    return {"has_id": [r[0] for r in rows]}
            return tf

        def _walk_doc(doc: dict, top: bool = False) -> dict:
            out = dict(doc)
            for slot in ("must", "should", "must_not"):
                cl = doc.get(slot)
                if not cl:
                    continue
                cl = [cl] if isinstance(cl, dict) else list(cl)
                out[slot] = [_walk_clause(c, probe=(top and slot == "must"))
                             for c in cl]
            ms = doc.get("min_should")
            if isinstance(ms, dict) and ms.get("conditions"):
                out["min_should"] = {
                    **ms,
                    "conditions": [_walk_clause(c, probe=False)
                                   for c in ms["conditions"]],
                }
            return out

        out = _walk_doc(query_filter, top=True)
        return out if changed else query_filter

    def search_text_filtered(self, name: str, query_vector: list[float],
                             field: str, text: str, k: int = 10,
                             vector_col: str = "embedding",
                             id_col: str = "id") -> DataFrame:
        """kNN under an INDEXED full-text predicate: postings prefilter →
        candidate restriction (IN-pushdown / semi join, ``restrict_to_ids``)
        → top-k over the candidates only.

        Semantics note (matches Qdrant): on a text-INDEXED field, MatchText
        goes through the index's tokenizer and matches WHOLE tokens — the
        postings AND is therefore exact and no re-verify scan is needed
        (tokens are stored literally; the bucket hash only routes). The
        DSL's scan-stage ``match.text`` on unindexed fields keeps its
        per-token SUBSTRING semantics (filters.py), mirroring the
        reference's delete-by-word behavior — same split Qdrant documents
        between indexed and unindexed text matching."""
        from vectordb_cloud_spark.operators.knn import knn_search

        cand = self.text_match_ids(name, field, text)
        base = self.restrict_to_ids(self.read(name), cand, id_col=id_col)
        return knn_search(base, query_vector, k=k, vector_col=vector_col,
                          tiebreak=id_col)

    def collection_info(self, name: str) -> dict:
        """Qdrant GET /collections/{name}: status, point/segment counts,
        vector config, and the indexed payload schema (with per-field
        non-null point counts, computed in one aggregation pass)."""
        name = self.resolve(name)
        meta = self.meta(name)
        distance = {"l2": "Euclid", "cosine": "Cosine", "dot": "Dot",
                    "manhattan": "Manhattan"}.get(meta.metric, meta.metric)
        points = 0
        segments = 0
        field_points: dict[str, int] = {}
        idx_fields = sorted(meta.payload_indexes or {})
        if self._has_data(name):
            df = self.read(name)
            present = [f for f in idx_fields if f in df.columns]
            aggs = [F.count(F.lit(1)).alias("__n")] + [
                F.count(f).alias(f"__c_{f}") for f in present]
            row = df.agg(*aggs).first()
            points = int(row["__n"])
            field_points = {f: int(row[f"__c_{f}"]) for f in present}
            data = self._current_data_dir(name)
            segments = sum(
                1 for _, _, fs in os.walk(data) for f in fs
                if f.endswith(".parquet"))
        if meta.vectors:
            vec_cfg = {n: {"size": int(d), "distance": distance}
                       for n, d in sorted(meta.vectors.items())}
        else:
            vec_cfg = {"size": meta.dim, "distance": distance}
        return {
            "status": "green",
            "points_count": points,
            "segments_count": segments,
            "config": {"params": {"vectors": vec_cfg,
                                  "sparse_vectors": meta.sparse_vectors,
                                  "n_buckets": meta.n_buckets,
                                  "shard_key": meta.shard_key,
                                  "on_disk_payload": True},
                       "quantization_config": meta.quantization,
                       "ann_index": meta.ann_index},
            "payload_schema": {
                f: {"data_type": (meta.payload_indexes or {})[f],
                    "points": field_points.get(f, 0)}
                for f in idx_fields},
        }

    # -- collection-level quantization (Qdrant quantization_config) --------
    # Qdrant attaches quantization to the collection and its optimizer
    # keeps the compressed codes fresh in the background; the batch-engine
    # equivalent is the ``quant.v{N}`` sidecar: ``quantize()`` materializes
    # codes for the current committed snapshot, and ``search_quantized()``
    # lazily (re)builds it when the data version moved — so a search after
    # a write pays one rebuild instead of every write paying an encode.
    def quantize(self, name: str, vector_col: str = "embedding") -> str:
        """Materialize the quantized-codes sidecar for the CURRENT version
        (no-op if already built). The codes table keeps id + payload
        columns and DROPS the full-precision vector — the scan-side size
        win (4x for int8, ~32x for binary) is the point."""
        return self._quant_sidecar(name, vector_col)[0]

    def _quant_sidecar(self, name: str, vector_col: str) -> tuple[str, dict]:
        from vectordb_cloud_spark.operators.sq import (
            bq_encode, bq_train, sq_encode, sq_train)

        name = self.resolve(name)
        meta = self.meta(name)
        if not meta.quantization:
            raise ValueError(f"collection {name!r} has no quantization config")

        def build(stage: str) -> dict:
            df = self.read(name).filter(F.col(vector_col).isNotNull())
            if "scalar" in meta.quantization:
                mins, maxs = sq_train(df, vector_col)
                codes = sq_encode(df, mins, maxs, vector_col).drop(vector_col)
                params = {"kind": "scalar", "mins": mins, "maxs": maxs}
            elif "product" in meta.quantization:
                from vectordb_cloud_spark.operators.pq import (
                    pq_encode, pq_train)

                spec = meta.quantization["product"]
                d = df.select(F.size(vector_col).alias("d")).first()["d"]
                if "m" in spec:
                    m = int(spec["m"])
                else:
                    # Qdrant compression factor vs float32: xN -> dim*4/N
                    # bytes per vector = M one-byte codes (K=256)
                    factor = int(spec.get("compression", "x16")[1:])
                    m = max(1, d * 4 // factor)
                if d % m:
                    raise ValueError(
                        f"dim {d} not divisible by product m={m} "
                        f"(pick a compression whose code count divides "
                        f"the dim)")
                codebooks = pq_train(df, m_subvectors=m, k_codes=256,
                                     vector_col=vector_col)
                codes = pq_encode(df, codebooks, vector_col).drop(vector_col)
                params = {"kind": "product", "codebooks": codebooks}
            else:
                thresholds = bq_train(df, vector_col)
                codes = bq_encode(df, thresholds, vector_col).drop(vector_col)
                params = {"kind": "binary", "thresholds": thresholds}
            codes.write.mode("overwrite").parquet(os.path.join(stage, "codes"))
            return params

        return self._sidecar(name, meta, "quant", build, vector_col=vector_col)

    def search_quantized(self, name: str, query_vector: list[float],
                         k: int = 10, predicate=None,
                         oversampling: float | None = None,
                         rescore: bool | None = None,
                         vector_col: str = "embedding",
                         id_col: str = "id") -> DataFrame:
        """Top-k search through the collection's quantized codes (Qdrant
        search with a quantization_config in force; ``params.quantization``
        knobs map to ``oversampling``/``rescore``). Defaults follow the
        measured operating points: int8 is near-lossless so it serves
        directly (rescore opt-in), binary ALWAYS rescores (hamming alone is
        a candidate generator) at 48x oversampling — the RECALL.md setting.
        ``oversampling`` is a FLOAT, as in Qdrant (e.g. 2.4): fractional
        values round the candidate pool UP (ceil), never down.
        Codes for a stale/missing snapshot rebuild lazily here."""
        import math as _math

        from vectordb_cloud_spark.operators.knn import exact_rescore_topk
        from vectordb_cloud_spark.operators.sq import bq_search, sq_search

        if oversampling is not None:
            # operators take integral oversample factors (they compute
            # k*oversample pool sizes); ceil preserves a fractional
            # request's pool-at-least-k*x contract
            oversampling = max(1, int(_math.ceil(float(oversampling))))
        name = self.resolve(name)
        qdir, params = self._quant_sidecar(name, vector_col)
        codes = self._read_handle(os.path.join(qdir, "codes"))
        if params["kind"] == "scalar":
            if rescore:
                over = oversampling or 4
                cand = sq_search(codes, params["mins"], params["maxs"],
                                 query_vector, k=k * over, filters=predicate,
                                 tiebreak=id_col).select(id_col)
                base = self.read(name)
                if predicate is not None:
                    base = base.filter(predicate)
                return exact_rescore_topk(base, cand, query_vector, k,
                                          id_col=id_col, vector_col=vector_col)
            return (
                sq_search(codes, params["mins"], params["maxs"], query_vector,
                          k=k, filters=predicate, tiebreak=id_col)
                .select(id_col, F.round("sq_dist", 6).alias("dist"))
            )
        base = self.read(name)
        if predicate is not None:
            codes = codes.filter(predicate)
            base = base.filter(predicate)
        if params["kind"] == "product":
            from vectordb_cloud_spark.operators.pq import pq_search_rerank

            return pq_search_rerank(
                codes, params["codebooks"], base, query_vector, k=k,
                oversample=oversampling or 4, id_col=id_col,
                vector_col=vector_col)
        return bq_search(codes, base, params["thresholds"], query_vector,
                         k=k, oversample=oversampling or 48, id_col=id_col,
                         vector_col=vector_col, tiebreak=id_col)

    def search_sparse(self, name: str, sparse_name: str,
                      query_indices: list[int], query_values: list[float],
                      k: int = 10, predicate=None, id_col: str = "id",
                      use_index: bool | None = None) -> DataFrame:
        """Top-k dot-product search over a named sparse vector (Qdrant
        query with ``using: <sparse_name>``).

        Two physical paths, same results (operator-level parity-tested):
        scan scoring (one map-fold over each row's stored dims — the r10
        form), or the versioned ``sparseidx.v{N}`` inverted-postings
        sidecar when the sparse config declares ``{"index": ...}`` (Qdrant
        sparse vectors are always index-backed; the config opts into the
        sidecar build here) or ``use_index=True`` forces it. The sidecar
        path prunes the read to the query dims' bucket dirs + row groups
        — bytes ∝ the query's posting lists, not the corpus."""
        from vectordb_cloud_spark.operators.sparse import sparse_topk

        name = self.resolve(name)
        meta = self.meta(name)
        if sparse_name not in (meta.sparse_vectors or {}):
            raise ValueError(
                f"collection {name!r} has no sparse vector {sparse_name!r} "
                f"(configured: {sorted(meta.sparse_vectors or {})})")
        icol, vcol = self.sparse_cols_of(sparse_name)
        spec = (meta.sparse_vectors or {}).get(sparse_name)
        route = (use_index if use_index is not None
                 else isinstance(spec, dict) and "index" in spec)
        if route and predicate is None and self._has_data(name):
            # Qdrant's sparse index IS an inverted index: serve through
            # the dim-bucketed postings sidecar (lazy versioned build, the
            # one sidecar lifecycle). Payload predicates stay on the
            # scan path — postings carry no payload columns, and a
            # filtered sparse search over the base table is the standard
            # selective-filter fallback.
            from vectordb_cloud_spark.operators.sparse import (
                sparse_read_inverted,
                sparse_topk_inverted,
            )

            sdir = self.build_sparse_index(name, sparse_name)
            postings, nb = sparse_read_inverted(self.spark, sdir)
            out = sparse_topk_inverted(postings, query_indices,
                                       query_values, k=k, bucket_dims=nb)
            if id_col != "id":
                out = out.select(F.col("id").alias(id_col), "score")
            return out
        df = self.read(name).filter(F.col(icol).isNotNull())
        if predicate is not None:
            df = df.filter(predicate)
        return sparse_topk(df, query_indices, query_values, k=k,
                           id_col=id_col, idx_col=icol, val_col=vcol)

    # one tiny file per vocab dim is an object-store anti-pattern at
    # SPLADE vocab sizes — dims hash into this many bucket dirs, with
    # dim-sorted row groups pruning WITHIN each bucket (the textidx
    # geometry, operators/sparse.py sparse_persist_inverted)
    _SPARSE_IDX_BUCKETS = 64

    def build_sparse_index(self, name: str, sparse_name: str) -> str:
        """Materialize the inverted-postings sidecar for a named sparse
        vector at the CURRENT version (no-op when fresh; ``_sidecar``
        lifecycle). Layout:
        ``sparseidx.v{N}/{sparse_name}/bucket=H/...`` with dim-sorted row
        groups, so a query reads its dims' buckets and row groups only
        (operators.sparse.sparse_persist_inverted geometry)."""
        from vectordb_cloud_spark.operators.sparse import (
            sparse_invert,
            sparse_persist_inverted,
        )

        name = self.resolve(name)
        meta = self.meta(name)
        if sparse_name not in (meta.sparse_vectors or {}):
            raise ValueError(
                f"collection {name!r} has no sparse vector {sparse_name!r} "
                f"(configured: {sorted(meta.sparse_vectors or {})})")
        icol, vcol = self.sparse_cols_of(sparse_name)

        def build(stage: str) -> None:
            df = self.read(name).filter(F.col(icol).isNotNull())
            postings = sparse_invert(df, id_col="id", idx_col=icol,
                                     val_col=vcol)
            sparse_persist_inverted(postings, stage,
                                    bucket_dims=self._SPARSE_IDX_BUCKETS)

        return self._sidecar(name, meta, "sparseidx", build, sub=sparse_name)[0]

    # -- collection-attached ANN index (the hnsw_config slot) --------------
    # The ``ann.v{N}`` sidecar: build_ann_index() materializes the index
    # for the CURRENT snapshot, search_ann() lazily rebuilds when a write
    # moved the version. Both families maintain themselves incrementally
    # across write epochs from one snapshot delta (``_snapshot_delta``:
    # file-level bucket diff -> per-id vector-hash classification): the
    # graph appends through its persisted blocking, IVF routes appends
    # through its trained centroids and tombstones deletes; each falls
    # back to the full rebuild past the staleness budget. A streaming
    # deployment keeps an IVF layout fresh via
    # streaming.start_indexed_ingest_stream + operators.ann.ivf_append.
    @staticmethod
    def _bucket_file_sets(data_dir: str) -> dict[str, set] | None:
        """Per-bucket parquet filename sets, or None for an unpartitioned
        layout. Bucket-scoped MVCC makes this the cheap delta detector:
        untouched buckets are HARDLINKED into new snapshots with their
        names intact, while a rewrite always emits fresh part-file names —
        so two versions' bucket dirs differ exactly where rows could."""
        out: dict[str, set] = {}
        for b in os.listdir(data_dir):
            if b.startswith("__bucket="):
                out[b] = {f for f in os.listdir(os.path.join(data_dir, b))
                          if f.endswith(".parquet")}
        return out or None

    def _snapshot_delta(self, name: str, meta, kind: str, require: str,
                        spec: dict, df: DataFrame, vector_col: str,
                        id_col: str, stage: str, accept=None):
        """What the writes since the newest prior ``kind`` sidecar moved —
        the shared front half of incremental ANN maintenance, bounded by
        the writes' footprint, never the corpus:

        1. find the newest prior ann.v sidecar of ``kind`` built for
           ``vector_col`` that holds ``require``, that ``accept(params)``
           allows, and whose MVCC data snapshot is still on disk (the
           diff needs both versions);
        2. diff the two snapshots at the FILE level — bucket-scoped MVCC
           hardlinks untouched buckets, so only buckets whose parquet
           name sets differ can hold new/changed/deleted rows;
        3. inside those buckets only, classify ids by a JVM-side vector
           hash: new (no old row), changed (hash moved), deleted;
        4. cumulative CHURN (appends + updates + deletes, this epoch and
           all prior incremental ones) past ``incremental_budget``
           (default 0.2 of the last FULL build's row count) falls back to
           the full rebuild — it bounds centroid drift for IVF and, since
           deleted graph nodes' edges are pruned without repairing their
           neighbors' lost degree (HNSW's tombstone decay), connectivity
           drift for the graph.

        Returns None when the full build must run. Otherwise a namespace:
        ``old_adir``; ``params``, the prior params with ``full_build_n``/
        ``appended_rows``/``deleted_rows`` advanced; and, when vectors
        moved, ``joined`` (skinny (id, __hn, __ho) rows of the changed
        buckets, ``__ho`` null for new ids), ``moved`` (new or changed
        ids), ``deleted`` (ids gone) and their counts ``n_new``/
        ``n_changed``/``n_deleted``. ``joined`` None means no vector moved
        (index DDL, payload-only rewrite): the prior sidecar is still exact
        and is hardlinked into ``stage`` (all but its params.json).
        ``{"<family>": {"incremental": false}}`` opts a collection out."""
        if not spec.get("incremental", True):
            return None
        for old_v, old_adir in sorted(self._versions(name, "ann").items(),
                                      reverse=True):
            if (old_v >= meta.version
                    or not os.path.exists(os.path.join(old_adir, require))
                    or not os.path.isdir(self._data_dir_v(name, old_v))):
                continue
            try:
                with open(os.path.join(old_adir, "params.json")) as f:
                    old_params = json.load(f)
            except FileNotFoundError:
                continue
            if (old_params.get("kind") == kind and old_params.get(
                    "vector_col", "embedding") == vector_col):
                break
        else:
            return None
        if accept is not None and not accept(old_params):
            return None
        old_data = self._data_dir_v(name, old_v)
        old_files = self._bucket_file_sets(old_data)
        new_files = self._bucket_file_sets(self._current_data_dir(name, meta))
        if old_files is None or new_files is None:
            return None  # unpartitioned layout: no cheap delta detector
        buckets = [int(b.split("=", 1)[1])
                   for b in set(old_files) | set(new_files)
                   if old_files.get(b) != new_files.get(b)]
        d = SimpleNamespace(old_adir=old_adir, params=dict(old_params),
                            joined=None)
        if buckets:
            live = F.col(vector_col).isNotNull()  # index membership
            old_cb = (
                self.spark.read.parquet(old_data)
                .filter(F.col("__bucket").isin(buckets) & live)
                .select(F.col(id_col),
                        F.xxhash64(F.col(vector_col)).alias("__ho"))
            )
            new_cb = (
                df.filter(F.col("__bucket").isin(buckets))
                .select(F.col(id_col),
                        F.xxhash64(F.col(vector_col)).alias("__hn"))
            )
            # skinny (id, old-hash, new-hash) rows for the changed buckets,
            # materialized once (localCheckpoint): the classification feeds
            # the stats agg, delta/changed id frames, and their graph/
            # banded/coarse/layout consumers — without it each one
            # re-scans the changed buckets' vectors. localCheckpoint, NOT
            # cache(): an InMemoryRelation here keeps its output
            # partitioning, and the downstream sort-merge joins against
            # 3-way unions intermittently zip a 200-partition cached side
            # against a 600-partition union ("Can't zip RDDs with unequal
            # numbers of partitions", observed ~1-in-4 under default
            # shuffle partitions); the checkpointed RDD scan severs that
            # propagation.
            joined = new_cb.join(old_cb, id_col, "left_outer") \
                .localCheckpoint()
            is_moved = (F.col("__ho").isNull()
                        | (F.col("__hn") != F.col("__ho")))
            stats = joined.agg(
                F.count(F.lit(1)).alias("n_new_rows"),
                F.sum(F.col("__ho").isNull().cast("int")).alias("n_new"),
                F.sum(is_moved.cast("int")).alias("n_moved"),
            ).first()
            n_new = int(stats["n_new"] or 0)
            n_changed = int(stats["n_moved"] or 0) - n_new
            n_deleted = old_cb.count() - (int(stats["n_new_rows"]) - n_new)
            p = d.params
            base_n = int(p.get("full_build_n", p.get("n_total", 0)) or 0)
            appended = int(p.get("appended_rows", 0))
            dropped = int(p.get("deleted_rows", 0))
            churn = appended + dropped + n_new + n_changed + n_deleted
            if base_n <= 0 or churn > float(
                    spec.get("incremental_budget", 0.2)) * base_n:
                return None  # drifted past the staleness budget: rebuild
            if n_new + n_changed + n_deleted:
                p["appended_rows"] = appended + n_new + n_changed
                p["deleted_rows"] = dropped + n_deleted
                p.setdefault("full_build_n", base_n)
                d.joined = joined
                d.moved = joined.filter(is_moved).select(id_col)
                d.deleted = old_cb.select(id_col).join(
                    joined.select(id_col), id_col, "left_anti")
                d.n_new, d.n_changed, d.n_deleted = n_new, n_changed, n_deleted
                return d
        for e in os.listdir(old_adir):
            src = os.path.join(old_adir, e)
            if os.path.isdir(src):
                self._link_tree(src, os.path.join(stage, e))
            elif e != "params.json":  # rewritten at publish, never linked
                shutil.copy2(src, os.path.join(stage, e))
        return d

    def _incremental_graph_params(self, name: str, meta, spec: dict,
                                  df: DataFrame, vector_col: str,
                                  id_col: str, stage: str) -> dict | None:
        """Maintain the graph ann.v sidecar INCREMENTALLY across a write
        instead of a full rebuild (VERDICT r13 #3 — at 100 TB a full graph
        rebuild per write-epoch is the most expensive thing the engine can
        do; Qdrant's HNSW likewise maintains itself in place).

        Over the snapshot delta (``_snapshot_delta``; updates count as
        churn against the budget): drop changed AND deleted ids'
        adjacency (both endpoints), prune them from the banded routing
        table, the coarse_sample, and the medoid entry list (every medoid
        deleted → rebuild re-seeds), route new+changed rows through the
        PERSISTED blocking (``knn_graph_append`` — O(batch x block) pair
        work), refresh the coarse_sample stratum incrementally, and carry
        params forward. Deleted ids can never surface in results
        regardless: beam candidates score via a base-table probe, and the
        MVCC snapshot no longer holds them.

        Returns the new params dict with stage/ populated, or None when
        the full build must run."""
        from vectordb_cloud_spark.operators.graph_ann import (
            _banded, blocking_from_json, knn_graph_append)

        d = self._snapshot_delta(name, meta, "graph", "blocking.json", spec,
                                 df, vector_col, id_col, stage)
        if d is None or d.joined is None:
            return None if d is None else d.params
        # changed ids plus deleted ones: their edges, routing rows and
        # sample rows go; changed ones re-enter through the delta
        ch_ids = d.joined.filter(
            F.col("__ho").isNotNull() & (F.col("__hn") != F.col("__ho"))
        ).select(id_col)
        if d.n_deleted > 0:
            ch_ids = ch_ids.unionByName(d.deleted)
            entry_ids = [int(i) for i in d.params.get("entry_ids", [])]
            gone = {r[0] for r in d.deleted.filter(
                F.col(id_col).isin(entry_ids)).collect()} if entry_ids else ()
            d.params["entry_ids"] = [i for i in entry_ids if i not in gone]
            if entry_ids and not d.params["entry_ids"]:
                return None  # every medoid deleted: rebuild re-seeds
        old_adir = d.old_adir
        graph = self.spark.read.parquet(os.path.join(old_adir, "graph"))
        # changed nodes: drop BOTH endpoints' stale edges (their stored
        # distances moved); the append below re-links them like new
        # points. Deleted ids ride the same pruning — they just never
        # re-enter via the delta.
        graph = graph.join(ch_ids.withColumnRenamed(id_col, "src"),
                           "src", "left_anti")
        graph = graph.join(ch_ids.withColumnRenamed(id_col, "dst"),
                           "dst", "left_anti")
        delta_rows = df.join(d.moved, id_col, "left_semi")
        with open(os.path.join(old_adir, "blocking.json")) as f:
            blocking = blocking_from_json(json.load(f))
        # persisted (id, block) routing table: the append prunes members
        # from this skinny table instead of re-routing the corpus (the
        # dominant append cost without it — knn_graph_append docstring);
        # cleansed of re-routed ids, refreshed with the delta's rows
        bdir_old = os.path.join(old_adir, "banded")
        banded_old = None
        if os.path.isdir(bdir_old):
            banded_old = self.spark.read.parquet(bdir_old).join(
                ch_ids.withColumnRenamed(id_col, "id"), "id", "left_anti")
        appended_graph = knn_graph_append(
            df, delta_rows, graph, blocking,
            degree=int(spec.get("degree", 8)),
            id_col=id_col, vec_col=vector_col, banded=banded_old)
        appended_graph.select("src", "dst", F.col("dist").cast("double")) \
            .write.mode("overwrite").parquet(os.path.join(stage, "graph"))
        if banded_old is not None:
            banded_delta = _banded(
                delta_rows.select(
                    F.col(id_col).alias("id"),
                    F.col(vector_col).cast("array<double>").alias("vec")),
                blocking).select("id", "block")
            banded_old.unionByName(banded_delta).coalesce(16) \
                .write.mode("overwrite") \
                .parquet(os.path.join(stage, "banded"))
        coarse_mod = int(d.params.get("coarse_mod", 31))
        cdir = os.path.join(old_adir, "coarse_sample")
        if os.path.isdir(cdir):
            sample = self.spark.read.parquet(cdir) \
                .join(ch_ids, id_col, "left_anti")
            stratum = delta_rows.filter(
                F.pmod(F.col(id_col), F.lit(coarse_mod)) == 0
            ).select(id_col, vector_col)
            sample.unionByName(stratum).coalesce(16) \
                .write.mode("overwrite") \
                .parquet(os.path.join(stage, "coarse_sample"))
        shutil.copy2(os.path.join(old_adir, "blocking.json"),
                     os.path.join(stage, "blocking.json"))
        return d.params

    def _incremental_ivf_params(self, name: str, meta, spec: dict,
                                kind: str, df: DataFrame, vector_col: str,
                                id_col: str, stage: str) -> dict | None:
        """r14 IVF twin of ``_incremental_graph_params``: a pure-append
        write epoch keeps the trained centroids and routes ONLY the
        delta through them (``operators.ann.ivf_append``'s route+append
        into a hardlinked copy of the old layout) — no KMeans refit, no
        rewrite of any existing inverted-list file. The engine's own
        family guidance says "pick IVF for write-heavy tables" (SCALE.md
        build-rate comparison); before this, the collection lifecycle
        undercut that advice by paying the full KMeans + layout rewrite
        on every write epoch. Composed ``ivf_sq`` layouts append too:
        the delta is encoded with the sidecar's FROZEN mins/maxs (new
        values clamp, the standard SQ saturation; drift is bounded by
        the same budget that bounds centroid drift).

        Deletes ride the epoch too (r14): the immutable layout files
        keep the stale rows, so deleted ids become TOMBSTONES — a
        skinny id table in the sidecar that ``search_ann`` anti-joins
        out before the top-k;
        a tombstoned id re-inserted later is subtracted back out, and
        the rebuild clears the table.

        Falls back to the full rebuild (returns None) on: in-place
        updates (stale rows would need per-file rewrites), a
        centroid-count config change, or the snapshot delta's churn
        budget (``_snapshot_delta``)."""
        from vectordb_cloud_spark.operators.ann import ivf_append, ivf_assign

        d = self._snapshot_delta(
            name, meta, kind, kind, spec, df, vector_col, id_col, stage,
            accept=lambda p: len(p.get("centers", [])) == int(
                spec.get("k_centroids", 16)))  # config change: retrain
        if d is None or d.joined is None:
            return None if d is None else d.params
        if d.n_changed > 0:
            return None  # in-place updates: stale rows in immutable files
        self._link_tree(os.path.join(d.old_adir, kind),
                        os.path.join(stage, kind))
        # deletes become TOMBSTONES (Qdrant's deleted flags, batch
        # edition): the layout's immutable files keep the stale rows, a
        # skinny id table rides the sidecar, and search_ann anti-joins it
        # before the top-k so a deleted row can never displace a live
        # one. Rewritten (not linked) each epoch: a re-inserted id must
        # come back to life, so the delta's ids are subtracted below.
        # The rebuild (budget above) clears them entirely.
        tdir_old = os.path.join(d.old_adir, "tombstones")
        tomb = (self.spark.read.parquet(tdir_old)
                if os.path.isdir(tdir_old) else None)
        if d.n_deleted > 0:
            tomb = d.deleted if tomb is None else tomb.unionByName(d.deleted)
        if tomb is not None:
            if d.n_new:  # a tombstoned id re-inserted this epoch is live
                tomb = tomb.join(d.moved, id_col, "left_anti")
            tomb.coalesce(1).write.mode("overwrite") \
                .parquet(os.path.join(stage, "tombstones"))
        if d.n_new == 0:
            return d.params  # no vectors added: routing untouched
        delta_rows = df.join(d.moved, id_col, "left_semi")
        centers = [(int(i), list(c)) for i, c in d.params["centers"]]
        if kind == "ivf":
            ivf_append(delta_rows, centers, os.path.join(stage, "ivf"),
                       vector_col=vector_col)
        else:
            from vectordb_cloud_spark.operators.sq import sq_encode

            assigned = ivf_assign(delta_rows, centers, vector_col)
            if assigned.filter(F.col("centroid_id").isNull()) \
                    .limit(1).count():
                raise ValueError(
                    "incremental ivf_sq append: batch contains NULL or "
                    f"dimension-mismatched vectors in {vector_col!r}")
            sq_encode(assigned, d.params["mins"], d.params["maxs"],
                      vector_col=vector_col).drop(vector_col) \
                .write.mode("append").partitionBy("centroid_id") \
                .parquet(os.path.join(stage, "ivf_sq"))
        return d.params

    def build_ann_index(self, name: str, vector_col: str = "embedding",
                        id_col: str = "id") -> str:
        """Materialize the ``ann.v{N}`` sidecar for the CURRENT version
        (no-op if already built for ``vector_col``)."""
        return self._ann_sidecar(name, vector_col, id_col)[0]

    def _ann_sidecar(self, name: str, vector_col: str,
                     id_col: str) -> tuple[str, dict]:
        from vectordb_cloud_spark.operators.ann import ivf_build, ivf_persist

        name = self.resolve(name)
        meta = self.meta(name)
        if not meta.ann_index:
            raise ValueError(f"collection {name!r} has no ann_index config")

        def build(stage: str) -> dict:
            df = self.read(name).filter(F.col(vector_col).isNotNull())
            # snapshot-invariant total row count, persisted with the
            # sidecar: the filtered planner's 2kN/m beam-widening heuristic
            # needs N, and re-counting the corpus on EVERY filtered query
            # is a full blocking scan for a number that can't change until
            # the next write (which rebuilds this sidecar anyway) — ADVICE
            # r13
            n_total = df.count()
            if "ivf" in meta.ann_index:
                spec = meta.ann_index["ivf"]
                kind = ("ivf_sq" if meta.quantization
                        and "scalar" in meta.quantization else "ivf")
                # r14: a write-moved version tries the INCREMENTAL path
                # first — pure-append epochs keep the trained centroids and
                # route only the delta (ivf_append into a hardlinked layout
                # copy), deletes become tombstones; falls back here on
                # updates, config change, missing prior state, or drift
                # past incremental_budget
                params = self._incremental_ivf_params(
                    name, meta, spec, kind, df, vector_col, id_col, stage)
                if params is None:
                    centers, assigned = ivf_build(
                        df, k_centroids=int(spec.get("k_centroids", 16)),
                        vector_col=vector_col)
                    params = {"kind": kind, "centers": centers}
                    if kind == "ivf_sq":
                        # BOTH configs -> the composed IVF×SQ layout:
                        # centroid partitioning prunes FILES, int8 codes
                        # shrink the BYTES of every opened file ~4x;
                        # originals stay in the base table for the rescore
                        # (Qdrant's quantized-index storage split). Unlike
                        # the bare operators.sq.ivf_sq_persist, the sidecar
                        # KEEPS the payload columns (the byte win is
                        # dropping the fp vector) so search predicates —
                        # the mandatory tenant filter above all — push into
                        # the CANDIDATE scan instead of only filtering the
                        # rescore, which would starve small tenants out of
                        # the global top-k*oversample
                        from vectordb_cloud_spark.operators.sq import (
                            sq_encode, sq_train)

                        mins, maxs = sq_train(df, vector_col)
                        sq_encode(assigned, mins, maxs,
                                  vector_col=vector_col) \
                            .drop(vector_col) \
                            .write.mode("overwrite") \
                            .partitionBy("centroid_id") \
                            .parquet(os.path.join(stage, "ivf_sq"))
                        params.update(mins=mins, maxs=maxs)
                    else:
                        ivf_persist(assigned, os.path.join(stage, "ivf"))
                # query-time knobs follow the CURRENT spec on a rebuild and
                # an incremental epoch alike, so a config tweak never
                # forces a rebuild
                params.update(
                    nprobe=int(spec.get("nprobe", 2)),
                    # Qdrant's uniform planner rule: a filter matching at
                    # most this many points serves the exact filtered
                    # top-k (the matching set may be far from the query —
                    # outside any probed region); denser filters push into
                    # the pruned scan, whose probed region covers the
                    # filtered top-k's k·N/m overall rank at any such
                    # selectivity (RECALL.md r13 filtered series)
                    full_scan_threshold=int(
                        spec.get("full_scan_threshold", 10_000)),
                    # filtered-search sample audit
                    # (operators.knn.planned_topk) — None/0 disables
                    audit_sample_mod=spec.get("audit_sample_mod", 31))
                if kind == "ivf_sq":
                    params["oversample"] = int(spec.get("oversample", 4))
            else:
                spec = meta.ann_index["graph"]
                # r14 (VERDICT r13 #3): a write-moved version tries the
                # INCREMENTAL maintenance path first — append the write's
                # delta through the persisted blocking instead of a full
                # rebuild; falls back here on missing prior state or
                # cumulative churn past incremental_budget
                params = self._incremental_graph_params(
                    name, meta, spec, df, vector_col, id_col, stage)
                if params is None:
                    params = self._full_graph_build(
                        spec, df, vector_col, id_col, stage, n_total)
            params["n_total"] = n_total
            return params

        return self._sidecar(name, meta, "ann", build, vector_col=vector_col)

    def _full_graph_build(self, spec: dict, df: DataFrame, vector_col: str,
                          id_col: str, stage: str, n_total: int) -> dict:
        """Full graph sidecar build (the from-scratch path): adjacency +
        blocking + coarse entry sample materialized into ``stage``,
        returns the params dict. The blocking is persisted
        (blocking.json) so future write epochs can APPEND through the
        same routing (``_incremental_graph_params``) instead of paying
        this build again."""
        from vectordb_cloud_spark.operators.graph_ann import (
            blocking_to_json, graph_entry_points, knn_graph_build_sharded)

        # the SHARDED builder: its center-literal count is capped at any
        # corpus size (knn_graph_build's n/128 center literals blow up the
        # plan past ~10^7 rows — its own docstring), and it degenerates
        # to the unsharded candidate structure on small corpora
        # (n_shards=1)
        graph, blocking, banded = knn_graph_build_sharded(
            df, degree=int(spec.get("degree", 8)), id_col=id_col,
            vec_col=vector_col,
            refine_rounds=int(spec.get("refine_rounds", 2)),
            with_blocking=True, return_banded=True)
        graph.select("src", "dst", F.col("dist").cast("double")).write \
            .mode("overwrite").parquet(os.path.join(stage, "graph"))
        # persist the blocking + the skinny (id, block) routing table so
        # future writes can APPEND through the same routing instead of
        # rebuilding — with the banded table the append never re-routes
        # the corpus (knn_graph_append's banded fast path)
        with open(os.path.join(stage, "blocking.json"), "w") as f:
            json.dump(blocking_to_json(blocking), f)
        banded.coalesce(16).write.mode("overwrite") \
            .parquet(os.path.join(stage, "banded"))
        entries = graph_entry_points(df, id_col=id_col, vec_col=vector_col)
        # coarse-entry SAMPLE table (r11, the 1M-row RECALL finding):
        # a flat kNN graph loses navigability on clumped corpora —
        # clusters become islands and beam search from GLOBAL medoid
        # seeds cannot reach the query's cluster (recall 0.000 at 1M
        # vs 1.000 at 6k). Persist the deterministic ~1/coarse_mod
        # mod-sample (ids + vectors) beside the graph; search seeds
        # each query from its nearest sample members — HNSW's upper
        # layer as one bounded scan of a SMALL materialized table
        # (the IVF centroid-table storage trick; mod-sampling stays
        # consistent under upserts). Medoid entry_ids remain the
        # fallback for an empty stratum / legacy sidecars.
        coarse_mod = int(spec.get("coarse_mod", 31))
        df.filter(F.pmod(F.col(id_col), F.lit(coarse_mod)) == 0) \
            .select(id_col, vector_col) \
            .coalesce(16) \
            .write.mode("overwrite") \
            .parquet(os.path.join(stage, "coarse_sample"))
        return {"kind": "graph", "entry_ids": entries,
                "beam": int(spec.get("beam", 32)),
                "max_hops": int(spec.get("max_hops", 4)),
                "coarse_mod": coarse_mod,
                "n_entry": int(spec.get("n_entry", 16)),
                # incremental-maintenance bookkeeping (r14): row count at
                # this FULL build + rows appended since; the staleness
                # budget compares their ratio before allowing an append
                "full_build_n": int(n_total),
                "appended_rows": 0,
                # Qdrant's planner knobs: filters matching at most
                # full_scan_threshold points serve exact; denser
                # filters widen the beam to ~2kN/m up to
                # filtered_beam_cap, beyond which exact serves
                # (operators.knn.planned_topk, graph_widened_search;
                # RECALL.md r13 filtered series). cap 0/None =
                # default max(8*beam, 512).
                "full_scan_threshold": int(
                    spec.get("full_scan_threshold", 10_000)),
                "filtered_beam_cap": spec.get("filtered_beam_cap"),
                # r13 sample audit: None/0 disables; see
                # operators.knn.filtered_sample_audit
                "audit_sample_mod": spec.get("audit_sample_mod", 31)}

    def search_ann(self, name: str, query_vector: list[float], k: int = 10,
                   predicate=None, vector_col: str = "embedding",
                   id_col: str = "id", beam: int | None = None) -> DataFrame:
        """Top-k through the collection's attached ANN index (nprobe/beam
        from the config). Every kind plans a filtered query through the
        one planner, ``operators.knn.planned_topk`` (Qdrant's rule of the
        same name): one narrow planning count ``m``; the exact filtered
        top-k when ``m <= full_scan_threshold`` (config knob, default
        10k); otherwise the kind's own search, then the sample audit
        (``audit_sample_mod``, default 31), which upgrades a result that
        missed the matching set to exact. The kinds differ only in that
        search: IVF and IVF-SQ push the predicate into their pruned
        scans; the graph navigates unfiltered with the beam widened to
        ``~2kN/m`` (post-filtered navigation alone measured
        0.812/0.363/0.025 at 10%/1%/0.1% uncorrelated selectivity;
        widening restores the 10% band to 0.975) and declines to exact
        past ``filtered_beam_cap`` (RECALL.md r13 filtered series, incl.
        the correlated adversarial case both ANN families lose without
        the audit). ``full_scan_threshold`` 0 serves the raw index math:
        no count, no audit (the oracle fixtures pin it). ``beam``
        overrides the graph config's beam width for this query —
        Qdrant's search-time ``params.hnsw_ef`` (ignored by IVF layouts,
        as Qdrant ignores hnsw_ef for non-HNSW indexes)."""
        from vectordb_cloud_spark.operators.knn import (
            exact_rescore_topk, knn_search, planned_topk)

        name = self.resolve(name)
        adir, params = self._ann_sidecar(name, vector_col, id_col)
        points = self.read(name)

        def live(layout: DataFrame) -> DataFrame:
            # incremental-delete tombstones (r14): stale rows kept by the
            # immutable layout files are anti-joined out BEFORE the top-k
            # so a deleted row can never displace a live one; absent dir =
            # no deletes since the last full build, zero query-path cost
            tdir = os.path.join(adir, "tombstones")
            if not os.path.isdir(tdir):
                return layout
            return layout.join(F.broadcast(self._read_handle(tdir)), id_col,
                               "left_anti")

        if params["kind"] == "ivf":
            from vectordb_cloud_spark.operators.ann import ivf_search

            def search(m):
                centers = [(int(i), list(c)) for i, c in params["centers"]]
                return ivf_search(
                    live(self._read_handle(os.path.join(adir, "ivf"))),
                    centers, query_vector,
                    k=k, nprobe=params["nprobe"], vector_col=vector_col,
                    filters=predicate, tiebreak=id_col
                ).select(id_col, "dist")  # uniform (id, dist) contract
        elif params["kind"] == "ivf_sq":
            # the sidecar keeps payload columns, so the predicate prunes
            # the CANDIDATE scan (inside the probed partitions) before the
            # ADC top-k*oversample — a tenant filter yields the tenant's
            # own candidates, not a slice of the global ones
            from vectordb_cloud_spark.operators.ann import route_probe_ids
            from vectordb_cloud_spark.operators.sq import sq_search

            def search(m):
                centers = [(int(i), list(c)) for i, c in params["centers"]]
                probe = route_probe_ids(centers, query_vector,
                                        params["nprobe"])
                codes = live(
                    self._read_handle(os.path.join(adir, "ivf_sq"))
                    .filter(F.col("centroid_id").isin(probe)))
                base = points
                if predicate is not None:
                    codes = codes.filter(predicate)
                    base = base.filter(predicate)
                cand = sq_search(codes, params["mins"], params["maxs"],
                                 query_vector, k=k * params["oversample"],
                                 tiebreak=id_col).select(id_col)
                return exact_rescore_topk(base, cand, query_vector, k,
                                          id_col=id_col,
                                          vector_col=vector_col)
        else:
            from vectordb_cloud_spark.operators.graph_ann import (
                graph_widened_search)

            def search(m):
                entry_ids = params["entry_ids"]
                cdir = os.path.join(adir, "coarse_sample")
                if os.path.isdir(cdir):
                    # per-query coarse seeding from the persisted
                    # mod-sample (see build_ann_index): one bounded
                    # top-n_entry scan of the small sample table replaces
                    # the global medoid seeds that lose the query's
                    # cluster on large clumped corpora (RECALL.md 1M
                    # series). Falls back to the medoids when the stratum
                    # is empty (offset/sparse id spaces).
                    seeds = [int(r[0]) for r in knn_search(
                        self._read_handle(cdir), query_vector,
                        k=int(params.get("n_entry", 16)),
                        vector_col=vector_col, tiebreak=id_col,
                    ).select(id_col).collect()]
                    if seeds:
                        entry_ids = seeds
                return graph_widened_search(
                    points, self._read_handle(os.path.join(adir, "graph")),
                    query_vector, m, k=k,
                    beam=int(beam) if beam else params["beam"],
                    cap=params.get("filtered_beam_cap"),
                    # build-time corpus count: saves one full blocking
                    # scan per filtered query (ADVICE r13); absent in
                    # legacy sidecars, where the search re-counts
                    n_total=params.get("n_total"),
                    max_hops=params["max_hops"], id_col=id_col,
                    vec_col=vector_col, filters=predicate,
                    entry_ids=entry_ids)
        # 10k default for legacy sidecars built before the knob existed
        return planned_topk(
            points, predicate, query_vector, k, search,
            params.get("full_scan_threshold", 10_000),
            params.get("audit_sample_mod", 31),
            vector_col=vector_col, id_col=id_col)

    def compact(self, name: str, max_files_per_bucket: int = 4) -> int:
        """Compact buckets that accumulated small files (every bucket-scoped
        upsert adds files to its bucket dirs — the classic streaming-ingest
        small-file problem). Rewrites ONLY buckets whose file count exceeds
        ``max_files_per_bucket``, one coalesced file each; data and untouched
        buckets are byte-identical. Returns the number of buckets compacted.
        On Delta this is OPTIMIZE; here it is the same bucket-scoped swap the
        DML path uses.
        """
        name = self.resolve(name)
        data = self._current_data_dir(name)
        if data is None or not os.path.isdir(data):
            return 0
        crowded = []
        for d in os.listdir(data):
            if d.startswith("__bucket=") and sum(
                1 for f in os.listdir(os.path.join(data, d)) if f.endswith(".parquet")
            ) > max_files_per_bucket:
                crowded.append(int(d.split("=", 1)[1]))
        if not crowded:
            return 0
        meta = self.meta(name)
        # one shuffle partition per crowded bucket: compaction parallelizes
        # across buckets (coalesce(1) would serialize every bucket's rewrite
        # through a single task) while partitionBy still emits one file per
        # bucket per task
        base = self.read(name).filter(F.col("__bucket").isin(crowded)).drop("__bucket")
        df = base.repartition(len(crowded), self._bucket_of(meta, base))
        self._swap_buckets(name, df, crowded)
        return len(crowded)

    def delete_by_ids(self, name: str, ids: list, id_col: str = "id") -> int:
        """D4: delete by id list (/root/reference/app.py:112,138) — with
        partition-bucketed data this is a left-anti join against a broadcast
        id set, a map-only pass."""
        return self.delete_where(name, F.col(id_col).isin(ids))

    def retrieve(self, name: str, ids: list, with_vectors: bool = False,
                 id_col: str = "id") -> DataFrame:
        """Qdrant POST /points (retrieve by ids): point lookup with payload,
        vectors opt-in (column pruning — with_vectors=False never reads the
        vector bytes). The id ``isin`` predicate rides the id-sorted row
        groups, so each touched file reads a fraction of its pages."""
        name = self.resolve(name)
        df = self.read(name)
        if "__bucket" in df.columns:
            df = df.drop("__bucket")
        df = df.filter(F.col(id_col).isin(list(ids)))
        if not with_vectors:
            df = df.drop("embedding", *[c for c in df.columns
                                        if c.startswith(("vec_", "sparse_"))])
        return df

    # -- points batch + vector-level updates --------------------------------
    # Qdrant POST /collections/{c}/points/batch: a LIST of heterogeneous
    # point operations applied in order. Spark-first, the whole batch
    # composes into ONE DataFrame lineage over the current snapshot and
    # commits as ONE new MVCC version — later ops see earlier ops' effects
    # (ordering), and a failure anywhere leaves the collection untouched
    # (atomicity), which is STRONGER than Qdrant's per-op acknowledgement.
    # The cost is a full-table rewrite per batch (vs upsert's bucket-scoped
    # merge) — the API is for mixed mutation bundles, not the bulk-ingest
    # hot path; bulk ingest stays on `upsert`.
    def _selector(self, spec: dict, id_col: str) -> Column:
        """``{"points": [ids]}`` or ``{"filter": <DSL document>}`` → boolean
        Column (the two point-selector forms every Qdrant point op takes)."""
        from vectordb_cloud_spark.filters import compile_filter

        if "points" in spec:
            ids = list(spec["points"])
            if not ids:
                return F.lit(False)
            return F.col(id_col).isin(ids)
        if "filter" in spec:
            pred = compile_filter(spec["filter"], id_col=id_col)
            return pred if pred is not None else F.lit(True)
        raise ValueError("point selector needs 'points' or 'filter'")

    def _rows_df(self, name: str, rows, id_col: str = "id",
                 target: DataFrame | None = None) -> DataFrame:
        """Normalize op input (DataFrame or list-of-dicts) to the
        collection's column set and types: dict rows get missing columns as
        typed nulls and present columns cast — so unionByName/coalesce
        against stored data never type-mismatches (inference yields
        array<double> where the table stores array<float>). ``target``
        overrides the committed snapshot as the schema source — update_batch
        passes its in-flight lineage so an upsert after a set_payload that
        introduced a new column still composes."""
        from pyspark.sql.types import StructField, StructType

        if target is None:
            target = self.read(name).drop("__bucket")
        target_types = {f.name: f.dataType for f in target.schema.fields}
        if isinstance(rows, DataFrame):
            df = rows
        else:
            if not rows:
                raise ValueError("empty points list")
            keys: list[str] = []
            for r in rows:
                keys += [k for k in r if k not in keys]
            unknown = [k for k in keys if k not in target_types]
            if unknown:
                raise ValueError(
                    f"batch columns {unknown} not in collection schema "
                    f"{sorted(target_types)}")
            df = self.spark.createDataFrame(
                [tuple(r.get(k) for k in keys) for r in rows],
                StructType([StructField(k, target_types[k], True) for k in keys]),
            )
        extra = set(df.columns) - set(target_types)
        if extra:
            raise ValueError(
                f"batch columns {sorted(extra)} not in collection schema "
                f"{sorted(target_types)}")
        out = df.select(*[
            (F.col(f.name) if f.name in df.columns
             else F.lit(None)).cast(f.dataType).alias(f.name)
            for f in target.schema.fields
        ])
        if id_col not in df.columns:
            raise ValueError(f"batch rows need the {id_col!r} column")
        return out

    def _batch_lww(self, df: DataFrame, id_col: str) -> DataFrame:
        """Last-write-wins inside one batch of rows: keep the
        highest-sequence row per id (reference replay order). THE shared
        implementation for ``upsert`` and ``update_batch`` — one place to
        change the LWW convention."""
        seq = df.withColumn("__seq", F.monotonically_increasing_id())
        return (
            seq.groupBy(id_col)
            .agg(F.max_by(
                F.struct(*[c for c in df.columns if c != id_col]), "__seq"
            ).alias("__s"))
            .select(id_col, "__s.*")
        )

    def _vector_cols(self, name: str, df_cols) -> list[str]:
        meta = self.meta(name)
        cols = ["embedding"] if "embedding" in df_cols else []
        cols += [self.vector_col_of(v) for v in sorted(meta.vectors or {})
                 if self.vector_col_of(v) in df_cols]
        return cols

    def update_batch(self, name: str, operations: list[dict],
                     id_col: str = "id") -> dict:
        """Apply an ordered list of point operations in ONE atomic commit.

        Each operation is a single-key dict (Qdrant's batch grammar):
        ``{"upsert": {"points": rows}}`` (rows: DataFrame or list of
        dicts), ``{"delete": {"points": [...] | "filter": {...}}}``,
        ``{"set_payload": {"payload": {...}, "points"/"filter": ...}}``,
        ``{"delete_payload": {"keys": [...], "points"/"filter": ...}}``,
        ``{"update_vectors": {"points": rows}}``,
        ``{"delete_vectors": {"vectors": [names], "points"/"filter": ...}}``.
        """
        name = self.resolve(name)
        if not operations:
            return {"result": {"operations": 0, "status": "completed"}}
        df = self.read(name).drop("__bucket")
        for op in operations:
            if len(op) != 1:
                raise ValueError(
                    f"each operation is a single-key dict, got {sorted(op)}")
            (kind, spec), = op.items()
            if kind == "upsert":
                rows = self._batch_lww(
                    self._validate(name, self._rows_df(
                        name, spec["points"], id_col, target=df)),
                    id_col)
                df = df.join(F.broadcast(rows), on=id_col, how="left_anti"
                             ).unionByName(rows)
            elif kind == "delete":
                sel = self._selector(spec, id_col)
                df = df.filter(~F.coalesce(sel, F.lit(False)))
            elif kind == "set_payload":
                sel = F.coalesce(self._selector(spec, id_col), F.lit(False))
                for col, val in spec["payload"].items():
                    if col in _RESERVED_FIELDS or col.startswith("vec_") or col == id_col:
                        raise ValueError(f"cannot set reserved field {col!r}")
                    old = F.col(col) if col in df.columns else F.lit(None)
                    df = df.withColumn(col, F.when(sel, F.lit(val)).otherwise(old))
            elif kind == "delete_payload":
                sel = F.coalesce(self._selector(spec, id_col), F.lit(False))
                for col in spec["keys"]:
                    if col in _RESERVED_FIELDS or col.startswith("vec_") or col == id_col:
                        raise ValueError(f"cannot delete reserved field {col!r}")
                    if col in df.columns:
                        df = df.withColumn(
                            col, F.when(sel, F.lit(None)).otherwise(F.col(col)))
            elif kind == "update_vectors":
                pts = spec["points"]
                # which columns the input ACTUALLY carried (normalization
                # fills the rest with nulls, which must stay no-ops)
                raw_cols = (set(pts.columns) if isinstance(pts, DataFrame)
                            else {k for r in pts for k in r})
                rows = self._validate(
                    name, self._rows_df(name, pts, id_col, target=df))
                vcols = self._vector_cols(name, raw_cols)
                if not vcols:
                    raise ValueError("update_vectors rows carry no vector column")
                patch = self._batch_lww(
                    rows.select(id_col, *vcols), id_col)
                patch = patch.select(
                    F.col(id_col),
                    *[F.col(c).alias(f"__new_{c}") for c in vcols])
                df = df.join(F.broadcast(patch), on=id_col, how="left")
                for c in vcols:
                    # coalesce: unmatched ids and null patch entries keep
                    # the stored vector — only vectors the rows actually
                    # carry change (Qdrant leaves non-listed vectors of a
                    # point untouched); patch ids absent from the
                    # collection are ignored
                    df = df.withColumn(
                        c, F.coalesce(F.col(f"__new_{c}"), F.col(c)))
                df = df.drop(*[f"__new_{c}" for c in vcols])
            elif kind == "delete_vectors":
                sel = F.coalesce(self._selector(spec, id_col), F.lit(False))
                names = spec.get("vectors") or [""]
                cmeta = self.meta(name)
                dense = cmeta.vectors or {}
                sparse = cmeta.sparse_vectors or {}
                for v in names:
                    if v in ("", "embedding"):
                        cols = ["embedding"]
                    elif v in dense:
                        cols = [self.vector_col_of(v)]
                    elif v in sparse:
                        cols = list(self.sparse_cols_of(v))  # null the PAIR
                    else:
                        raise ValueError(
                            f"unknown vector name {v!r} (dense: "
                            f"{sorted(dense)}, sparse: {sorted(sparse)})")
                    for col in cols:
                        if col in df.columns:
                            df = df.withColumn(
                                col,
                                F.when(sel, F.lit(None)).otherwise(F.col(col)))
            else:
                raise ValueError(f"unknown batch operation {kind!r}")
        with _raising_checks():  # the upsert ops' row checks run here
            self._swap_in(name, df)
        return {"result": {"operations": len(operations), "status": "completed"}}

    def update_vectors(self, name: str, rows, id_col: str = "id") -> dict:
        """Qdrant PUT /collections/{c}/points/vectors: patch only the vector
        columns the rows carry, payload untouched."""
        return self.update_batch(name, [{"update_vectors": {"points": rows}}],
                                 id_col=id_col)

    def delete_vectors(self, name: str, vectors: list[str],
                       points: list | None = None,
                       query_filter: dict | None = None,
                       id_col: str = "id") -> dict:
        """Qdrant POST /collections/{c}/points/vectors/delete: null the
        named vectors on the selected points (point and payload stay)."""
        spec: dict = {"vectors": vectors}
        if points is not None:
            spec["points"] = points
        elif query_filter is not None:
            spec["filter"] = query_filter
        else:
            raise ValueError("need points or query_filter")
        return self.update_batch(name, [{"delete_vectors": spec}], id_col=id_col)

    # -- snapshots (Qdrant snapshot API) ------------------------------------
    @classmethod
    def _link_tree(cls, src: str, dst: str) -> None:
        """Recursive hardlink-copy (file copy across filesystems): snapshot
        creation never rewrites parquet bytes on the same volume."""
        os.makedirs(dst, exist_ok=True)
        for entry in os.listdir(src):
            s = os.path.join(src, entry)
            if os.path.isdir(s):
                cls._link_tree(s, os.path.join(dst, entry))
        cls._link_files(src, dst)

    def snapshot(self, name: str, snapshots_root: str) -> str:
        """Export the CURRENT committed version to a portable snapshot
        directory — the engine behind Qdrant's
        ``POST /collections/{name}/snapshots`` (the reference's client
        exposes it; its service never calls it). Layout:
        ``{root}/{name}.v{version}.snapshot/{meta.json, manifest.json,
        data/}``.

        MVCC makes this safe without pausing writes: committed data dirs
        are immutable (updates commit NEW ``data.v{n}`` dirs), so the
        hardlinked snapshot can never observe a partial write; the staging
        dir + final rename makes snapshot publication itself atomic."""
        name = self.resolve(name)
        meta = self.meta(name)
        os.makedirs(snapshots_root, exist_ok=True)
        snap = os.path.join(snapshots_root, f"{name}.v{meta.version}.snapshot")
        if os.path.exists(snap):
            raise ValueError(f"snapshot already exists: {snap}")
        stage = snap + ".staging"
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
        with open(os.path.join(stage, "meta.json"), "w") as f:
            json.dump(asdict(meta), f)
        manifest = self._read_manifest(name)
        if manifest is not None:
            with open(os.path.join(stage, "manifest.json"), "w") as f:
                json.dump(manifest, f)
        data = self._current_data_dir(name)
        if data is not None and os.path.isdir(data):
            self._link_tree(data, os.path.join(stage, "data"))
        os.replace(stage, snap)
        return snap

    def restore(self, name: str, snapshot_dir: str,
                overwrite: bool = False) -> CollectionMeta:
        """Recover a collection from a snapshot directory (Qdrant
        ``PUT /collections/{name}/snapshots/recover``). The restored
        collection starts a fresh MVCC history at version 1 (or 0 for an
        empty snapshot); ids, buckets, and the probe manifest carry over
        unchanged, so reads and upserts behave exactly as on the source."""
        with open(os.path.join(snapshot_dir, "meta.json")) as f:
            smeta = json.load(f)
        if name in self.list_aliases():
            raise ValueError(f"{name!r} is an alias; restore to a new name")
        if self.exists(name):
            if not overwrite:
                raise ValueError(
                    f"collection {name!r} already exists (overwrite=True to replace)"
                )
            self.drop(name)
        os.makedirs(self._dir(name), exist_ok=True)
        meta = CollectionMeta(
            name=name, dim=smeta["dim"], metric=smeta["metric"],
            id_type=smeta["id_type"], n_buckets=smeta["n_buckets"], version=0,
            vectors=smeta.get("vectors"),
            payload_indexes=smeta.get("payload_indexes"),
            quantization=smeta.get("quantization"),
            ann_index=smeta.get("ann_index"),
            sparse_vectors=smeta.get("sparse_vectors"),
            shard_key=smeta.get("shard_key", "user_id"),
        )
        sdata = os.path.join(snapshot_dir, "data")
        if os.path.isdir(sdata):
            self._link_tree(sdata, self._data_dir_v(name, 1))
            meta.version = 1
        smanifest = os.path.join(snapshot_dir, "manifest.json")
        if os.path.isfile(smanifest):
            shutil.copy2(smanifest, self._manifest_path(name))
        self._write_meta(name, meta)
        return meta
