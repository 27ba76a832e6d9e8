"""Manifest-based table commits: object-store-portable, crash-safe,
compare-and-swap versioned.

The engine's one table catalog. It avoids the scale-killer of a
plain parquet lake — ``os.rename``-based directory swaps (local-FS
only, torn window between the two renames) — with the standard
lakehouse-lite design (the same shape Delta/Iceberg use, reduced to
its core):

* **Immutable data dirs.** Every commit writes parquet into a fresh
  ``data/<uuid>/`` directory — nothing is ever renamed or overwritten
  in place (rename-free = safe on S3-style stores where dir renames
  are O(n) copies and non-atomic).
* **Versioned manifests.** A manifest JSON lists exactly which data
  dirs (per key-bucket) constitute a table version. Readers resolve
  ``max(version)`` and read only the listed dirs; a crash mid-commit
  leaves orphan data dirs and tmp files but never a visible
  half-state. Publication is a single ``FileSystem.rename`` of the
  manifest tmp file — atomic on HDFS/local; on S3 bind this one call
  to a conditional PUT. Rename-onto-existing fails → the writer
  re-reads the log and retries at N+1 (optimistic concurrency). A
  commit derived from version N (append, row rewrites, compaction,
  ``replace_atomic(..., base_version=N)`` — every SCD apply) claims
  exactly N+1 and rebases on a lost race, so it never drops a
  concurrent commit.
* **Hadoop FileSystem API only** (via ``spark._jvm``): the same code
  drives ``file:``, ``hdfs:``, ``s3a:``, ``abfss:`` URIs. No
  ``os.path`` / ``os.walk`` on the data path.
* **Bucketed stores.** A table committed through
  :meth:`ManifestCatalog.append_bucketed` lists one dir set per
  :func:`bucket_id` bucket, so a reader prunes to the buckets it
  names (the text index and the IVF-PQ store).

Capability parity: reference commits via Delta managed tables
(``medallion/bronze/ds2b_company_house.py:91-97``) and two-transaction
SCD2 MERGE (``medallion/silver/b2s_yfinance.py:150-186``); this gives
the same observable semantics with single-manifest atomicity.
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

BUCKET_COL = "__bucket"
_MANIFEST_FMT = "manifest-{:08d}.json"


def _recorded_schema(manifest: dict) -> StructType | None:
    """The version's recorded ``schema`` (see :class:`ManifestCatalog`),
    or None when its readers must infer it from footers."""
    s = manifest.get("schema")
    return None if s is None else StructType.fromJson(json.loads(s))


def bucket_id(
    keys: Sequence[str], n_buckets: int | None = None, fn: str = "hash_pmod"
) -> Column:
    """The bucket contract: the bucket a row belongs to under a
    manifest's ``bucket_fn`` — ``hash_pmod`` is
    ``pmod(hash(keys), n_buckets)``, ``identity`` is the first key's
    value as an int (an IVF cell id is its own bucket). Writers and
    probe-side routers all derive bucket ids here, so a reader prunes
    to exactly the buckets a writer filled."""
    if fn == "identity":
        return F.col(keys[0]).cast("int")
    if fn == "hash_pmod":
        return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))
    raise ValueError(f"unknown bucket_fn {fn!r}")


def _layout(manifest: dict) -> tuple[list[str], int, str]:
    """A bucketed manifest's recorded contract, as the
    :func:`bucket_id` arguments ``(keys, n_buckets, fn)``."""
    return (
        manifest["bucket_keys"],
        manifest["n_buckets"],
        manifest.get("bucket_fn", "hash_pmod"),
    )


class HadoopFS:
    """Thin wrapper over org.apache.hadoop.fs.FileSystem via py4j."""

    def __init__(self, spark: SparkSession, base_uri: str):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self.fs = self._Path(base_uri).getFileSystem(self._conf)
        # Resolved ONCE from the root's actual filesystem: the python
        # fast path must agree with the JVM ops about which backend a
        # path names. Deciding per-path from the URI scheme alone
        # split-brained scheme-less roots on clusters where
        # fs.defaultFS is not file: (manifests written to local disk,
        # exists/listdir answered by HDFS).
        try:
            self._fs_is_local = str(self.fs.getScheme()) == "file"
        except Exception:
            self._fs_is_local = False

    def path(self, p: str):
        return self._Path(p)

    def exists(self, p: str) -> bool:
        return self.fs.exists(self.path(p))

    def mkdirs(self, p: str) -> None:
        self.fs.mkdirs(self.path(p))

    def listdir(self, p: str) -> list[str]:
        if not self.exists(p):
            return []
        return [str(st.getPath()) for st in self.fs.listStatus(self.path(p))]

    def _local(self, p: str):
        """Local filesystem path when the catalog's resolved
        filesystem is local, else None. Large manifests marshalled
        byte-by-byte through py4j cost seconds at 10-100k dirs
        (measured: most of an 8.3 s latest_manifest at 100k dirs was
        the 35 MB py4j transfer); direct Python IO is what any real
        deployment's native client (s3/hdfs bindings) would do.
        Gated on the ROOT's filesystem, not the path's URI scheme —
        a scheme-less path must take the same backend as the JVM
        ops, which resolve it against the root fs. An explicitly
        remote-schemed URI (hdfs://, s3a://, ...) is never local,
        even under a local root: answering its path component here
        would read/write a same-named local file — the inverse
        split-brain of the py4j fast path this method exists for."""
        if not self._fs_is_local:
            return None
        import urllib.parse

        u = urllib.parse.urlparse(p)
        if u.scheme not in ("", "file"):
            return None
        return urllib.parse.unquote(u.path) or p

    def write_text(self, p: str, text: str, overwrite: bool = False) -> None:
        local = self._local(p)
        if local is not None:
            import os

            os.makedirs(os.path.dirname(local), exist_ok=True)
            # "x" preserves the create-fails-if-exists contract
            with open(local, "w" if overwrite else "x", encoding="utf-8") as f:
                f.write(text)
            return
        out = self.fs.create(self.path(p), overwrite)  # default: fail if exists
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, p: str) -> str:
        local = self._local(p)
        if local is not None:
            with open(local, encoding="utf-8") as f:
                return f.read()
        stream = self.fs.open(self.path(p))
        try:
            # IOUtils drains the stream fully regardless of block size
            b = self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            return bytes(b).decode("utf-8")
        finally:
            stream.close()

    def rename_exclusive(self, src: str, dst: str) -> bool:
        """Atomically claim ``dst`` with ``src``'s content; False if
        ``dst`` already exists. This is THE commit primitive — a
        check-then-rename is NOT enough on a local filesystem, where
        POSIX rename() silently OVERWRITES an existing destination:
        two writers racing the same version slot would both 'win' and
        one commit's dirs would be lost (caught by the two-writer
        fuzz). Local path: link(2) — atomic exclusive by contract.
        JVM path: HDFS rename returns false onto an existing
        destination (the Delta/Iceberg commit assumption); object
        stores without atomic claim semantics need a coordination
        service, same as Delta on S3."""
        sl, dl = self._local(src), self._local(dst)
        if sl is not None and dl is not None:
            import os

            try:
                os.link(sl, dl)
            except FileExistsError:
                return False
            os.unlink(sl)
            return True
        return not self.exists(dst) and bool(
            self.fs.rename(self.path(src), self.path(dst))
        )

    def delete(self, p: str) -> None:
        self.fs.delete(self.path(p), True)

    def qualified(self, p: str) -> str:
        """Fully-qualified URI (scheme + authority) — the ONLY safe
        form for path equality: '/x' and 'file:/x' name the same dir
        but never compare equal as strings."""
        return str(self.fs.makeQualified(self.path(p)))

    def mtime_ms(self, p: str) -> int:
        return int(self.fs.getFileStatus(self.path(p)).getModificationTime())


class ManifestCatalog:
    """``zone.table`` → ``<root>/zone/table`` with versioned-manifest
    commits: the exists/read/replace_atomic/append/drop surface every
    pipeline layer uses, plus bucket-aware reads for the stores.

    Carry-forward rule (:meth:`_carried`): a commit derived from the
    previous version re-derives the dir layout (``dirs`` /
    ``bucket_dirs``), the per-dir metadata keyed by it (``stats``,
    ``blooms``) and ``schema``, and keeps every other key verbatim —
    bucket contract, ``cloned_from``, store extras (``cell_counts``,
    ``ti_*``, replay markers, ...). Only a rewrite that cannot retype
    a column records ``schema`` again.
    ``replace_atomic`` and ``optimize_zorder`` write their manifest
    whole; ``shallow_clone`` copies its source's.

    Manifest ``schema`` field (the Delta ``metaData.schemaString``
    move): ``StructType.json()`` of the rows every listed dir holds.
    ``replace_atomic`` writes it for an unpartitioned commit, and
    ``optimize`` for an unbucketed compaction, both from the frame
    they write. ``delete_where`` / ``delete_range`` keep it (their
    rewrites are a subset of the same rows, read under it), and
    ``shallow_clone`` copies it with the dirs. ``read`` of a version
    that carries it, with no bucket selection, passes it to
    ``spark.read.schema`` and so launches no Spark job; every other
    version falls back to footer inference (mergeSchema over >1 dir).
    Versions without it:

    * manifests from older lakes;
    * ``append`` — a wider batch evolves the schema, and the merged
      footers are what NULL-fill the older dirs;
    * ``update_where`` — a set expression may change a column's type;
    * partitioned commits — Spark infers partition-column types from
      the paths, which a recorded frame schema does not pin;
    * bucketed tables — bucket subdir reads drop the bucket column."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.fs = HadoopFS(spark, self.root)
        # per-dir bloom sidecar cache: a dir's blooms sidecar is written
        # once, before the dir is ever referenced, and never mutated —
        # so cache entries can't go stale (vacuum deletes whole dirs,
        # and a deleted dir is never probed again)
        self._bloom_sidecars: dict[str, dict] = {}
        # (table, col) -> DataType: committed column types are
        # immutable (see _column_type), so this never invalidates
        self._col_types: dict[tuple[str, str], object] = {}
        # (table, version) -> parsed manifest. A committed version is
        # immutable, so entries never go stale (drop() invalidates —
        # a recreated table restarts at version 1). CONTRACT: the
        # returned dict is shared — treat it as read-only; commit
        # paths copy the maps they modify (they all do).
        self._manifest_cache: dict[tuple[str, int], dict] = {}

    # -- layout ---------------------------------------------------------
    def table_dir(self, name: str) -> str:
        return "/".join([self.root, *name.split(".")])

    def _manifest_dir(self, name: str) -> str:
        return f"{self.table_dir(name)}/_manifests"

    def _new_data_dir(self, name: str) -> str:
        return f"{self.table_dir(name)}/data/{uuid.uuid4().hex}"

    # -- manifest log ---------------------------------------------------
    def _versions(self, name: str) -> list[int]:
        out = []
        for p in self.fs.listdir(self._manifest_dir(name)):
            base = p.rsplit("/", 1)[-1]
            if base.startswith("manifest-") and base.endswith(".json"):
                out.append(int(base[len("manifest-") : -len(".json")]))
        return sorted(out)

    def _latest_version(self, name: str) -> int | None:
        """Newest committed version, in O(1 + writer-lag) instead of
        an O(versions) directory listing: every publish drops a
        ``_latest`` hint (last-writer-wins, advisory); the reader
        verifies the hinted version exists and scans FORWARD over the
        dense version sequence until the first gap — a stale hint
        (lost overwrite race) costs a few existence probes, a
        missing/corrupt hint falls back to the full listing. This is
        the version-count axis of manifest-log growth (the Delta
        ``_last_checkpoint`` move): without it every read of — and
        every commit attempt against — a 10k-commit table pays a
        10k-entry listing."""
        mdir = self._manifest_dir(name)
        v = None
        try:
            v = int(self.fs.read_text(f"{mdir}/_latest").strip())
            if not self.fs.exists(f"{mdir}/{_MANIFEST_FMT.format(v)}"):
                v = None  # hint ahead of a crash-rolled-back publish
        except Exception:
            v = None
        if v is None:
            versions = self._versions(name)
            if not versions:
                return None
            v = versions[-1]
        while self.fs.exists(f"{mdir}/{_MANIFEST_FMT.format(v + 1)}"):
            v += 1
        return v

    def latest_manifest(self, name: str) -> dict | None:
        v = self._latest_version(name)
        return None if v is None else self.manifest_at(name, v)

    def manifest_at(self, name: str, version: int) -> dict:
        key = (name, version)
        m = self._manifest_cache.get(key)
        if m is None:
            path = f"{self._manifest_dir(name)}/{_MANIFEST_FMT.format(version)}"
            m = json.loads(self.fs.read_text(path))
            if len(self._manifest_cache) >= 8:  # bound driver RAM
                self._manifest_cache.pop(next(iter(self._manifest_cache)))
            self._manifest_cache[key] = m
        return m

    def _commit(self, name: str, manifest: dict) -> int:
        """Last-writer-wins publish: write tmp, rename to the next
        version slot; on collision retry at a later slot. ONLY safe
        for full-replacement content (replace_atomic with no base
        version) whose manifest does not depend on the previous
        version. Content derived FROM a previous manifest (append, SCD
        applies, optimize / optimize_zorder — compaction rows ARE the
        prior version) must go through :meth:`_commit_if` + rebase, or
        a concurrent commit's dirs would be silently dropped."""
        mdir = self._manifest_dir(name)
        self.fs.mkdirs(mdir)
        while True:
            last = self._latest_version(name)
            version = (last + 1) if last else 1
            if self._try_publish(name, manifest, version):
                return version

    def _commit_if(self, name: str, manifest: dict, expected_base: int) -> int | None:
        """Compare-and-swap publish: claim exactly version
        ``expected_base + 1``. Returns the version on success, None if
        another writer got there first — the caller re-reads the new
        latest, rebases its content, and retries.

        A base whose manifest is gone was vacuumed, so it is no longer
        the latest: refuse before claiming. Without this a writer that
        fell two versions behind could re-claim a slot :meth:`vacuum`
        just emptied, and readers scanning forward from the hint would
        stop at that stale version."""
        mdir = self._manifest_dir(name)
        self.fs.mkdirs(mdir)
        if expected_base and not self.fs.exists(
            f"{mdir}/{_MANIFEST_FMT.format(expected_base)}"
        ):
            return None
        version = expected_base + 1
        return version if self._try_publish(name, manifest, version) else None

    def _try_publish(self, name: str, manifest: dict, version: int) -> bool:
        manifest["version"] = version
        mdir = self._manifest_dir(name)
        tmp = f"{mdir}/.tmp-{uuid.uuid4().hex}"
        self.fs.write_text(tmp, json.dumps(manifest, indent=2, sort_keys=True))
        target = f"{mdir}/{_MANIFEST_FMT.format(version)}"
        if self.fs.rename_exclusive(tmp, target):
            # best-effort last-writer hint for O(1) latest_manifest;
            # advisory only (stale → forward scan, torn/corrupt →
            # listing fallback), so publish never fails on it
            try:
                self.fs.write_text(f"{mdir}/_latest", str(version),
                                   overwrite=True)
            except Exception:
                pass
            return True
        self.fs.delete(tmp)
        return False

    def _require_manifest(self, name: str, version: int | None = None) -> dict:
        """``version``'s manifest (default: latest); FileNotFoundError
        when the table has none."""
        manifest = (
            self.manifest_at(name, version)
            if version is not None
            else self.latest_manifest(name)
        )
        if manifest is None:
            raise FileNotFoundError(f"table {name} has no committed manifest")
        return manifest

    #: keys every derived commit re-derives (see the class docstring)
    _REDERIVED = ("version", "dirs", "bucket_dirs", "stats", "blooms", "schema")

    @classmethod
    def _carried(cls, manifest: dict) -> dict:
        """The keys a commit derived from ``manifest`` carries forward.
        A rewrite that holds the same rows under the same types sets
        ``schema`` again (:meth:`_commit_rewrite`); a bucketed layout
        never records one (bucket subdir reads drop the bucket
        column)."""
        return {k: v for k, v in manifest.items() if k not in cls._REDERIVED}

    def _write_buckets(
        self,
        df: DataFrame,
        name: str,
        keys: Sequence[str],
        n_buckets: int | None = None,
        fn: str = "hash_pmod",
    ) -> dict[str, list[str]]:
        """Write ``df`` into one fresh data dir, one ``__bucket=<b>``
        subdir per bucket under the :func:`bucket_id` contract, and
        return the ``bucket_dirs`` map of what landed (``{bucket:
        [subdir]}``; buckets with no rows are absent)."""
        data_dir = self._new_data_dir(name)
        (
            df.withColumn(BUCKET_COL, bucket_id(keys, n_buckets, fn))
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(data_dir)
        )
        prefix = f"{BUCKET_COL}="
        return {
            base[len(prefix):]: [p]
            for p in self.fs.listdir(data_dir)
            if (base := p.rsplit("/", 1)[-1]).startswith(prefix)
        }

    # -- catalog surface ------------------------------------------------
    def exists(self, name: str) -> bool:
        """K10 — a table exists iff it has a committed manifest."""
        return self.latest_manifest(name) is not None

    def _dirs(self, manifest: dict, buckets: Sequence[int] | None = None) -> list[str]:
        if manifest.get("bucket_dirs") is not None:
            sel = (
                manifest["bucket_dirs"].items()
                if buckets is None
                else [(str(b), manifest["bucket_dirs"].get(str(b), [])) for b in buckets]
            )
            return sorted({d for _b, ds in sel for d in ds})
        return list(manifest["dirs"])

    def read(
        self,
        name: str,
        buckets: Sequence[int] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Resolve a manifest (latest, or ``version`` for time travel
        — immutable data dirs make every retained version readable
        until vacuumed) and scan exactly its dirs. ``buckets`` prunes
        a bucketed table to the named buckets' subdirectories —
        partition pruning by manifest, no listing of unrelated
        data."""
        manifest = self._require_manifest(name, version)
        dirs = self._dirs(manifest, buckets)
        if not dirs:
            # a legitimately empty selection (a bucket whose rows were
            # all filtered away — or a bucketed table whose buckets are
            # ALL empty) is zero rows, not a missing table. Schema
            # comes from the newest retained version that still has
            # data dirs; recursing with buckets=None would re-land
            # here and raise on an all-empty table.
            for v in reversed(self._versions(name)):
                m = self.manifest_at(name, v)
                ds = self._dirs(m)
                if ds:
                    return self.spark.read.parquet(*ds).filter(F.lit(False))
            raise FileNotFoundError(f"table {name}: no data dirs")
        schema = _recorded_schema(manifest) if buckets is None else None
        return self._read_dirs(dirs, schema)

    def _read_dirs(
        self, dirs: Sequence[str], schema: StructType | None = None
    ) -> DataFrame:
        """Scan an explicit dir list. A recorded ``schema`` skips the
        footer job; without one, footers are inferred, merged when >1
        dir: append-path schema evolution (K9) — dirs committed before
        a column existed read as NULL. The reference needs ALTER TABLE
        ADD COLUMN for this (b2s_yfinance.py:46-61); merged footers
        make it automatic. Single-dir reads skip the footer-merge
        job."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        elif len(dirs) > 1:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*dirs)

    def _dir_stats(
        self, data_dir: str, stats_cols: Sequence[str], schema: StructType
    ) -> dict:
        """Per-data-dir min/max column stats for manifest-level data
        skipping (the file-stats half of Iceberg/Delta pruning,
        hoisted to dir granularity to match this catalog's commit
        unit). One narrow scan of just-written files, read under the
        writing frame's ``schema`` (no footer job); JSON-native
        column types only (numbers, strings) — cast dates upstream."""
        aggs = []
        for c in stats_cols:
            aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
        row = self.spark.read.schema(schema).parquet(data_dir).agg(*aggs).first()
        return {c: [row[f"__min_{c}"], row[f"__max_{c}"]] for c in stats_cols}

    #: per-dir bloom parameters — fixed so every dir's bitmap and the
    #: probe compute identical positions (same md5 derivation as
    #: operators/sketches, replayed driver-side for probing)
    BLOOM_BITS = 4096  # floor
    BLOOM_MAX_BITS = 1 << 21  # 2M bits = 256 KiB/dir/col ceiling
    BLOOM_HASHES = 3
    #: bitmaps whose total words (across the dir's bloom columns)
    #: reach this move to a per-dir SIDECAR file; smaller ones stay
    #: inline in the manifest JSON. The r07 metadata study: inline
    #: bitmaps make every commit re-serialize every dir's words —
    #: manifest size grows O(dirs), commit cost O(dirs), cumulative
    #: log O(dirs²) — the exact curve Delta's checkpoint/sidecar
    #: split exists to cut. 512 words = 32 KiB bitmap ≈ 3k keys.
    BLOOM_SIDECAR_MIN_WORDS = 512

    def _dir_blooms(
        self, data_dir: str, bloom_cols: Sequence[str], schema: StructType
    ) -> dict:
        """Per-data-dir Bloom bitmaps for point-lookup data skipping —
        the membership half of Iceberg/Delta file pruning. min/max
        stats can't prune equality probes on hash-like high-
        cardinality keys (every dir's range spans everything); a bloom
        per dir answers 'could this key be here?' with no false
        negatives. One narrow scan of the just-written dir, read under
        the writing frame's ``schema``, via the shared
        ``operators/sketches.bloom_build``.

        SIZED TO THE DIR (r06): a fixed bitmap saturates as appends
        grow — at 10x data a 4096-bit bloom over ~190k keys/dir
        approves every probe and targeted deletes degrade to
        rewrite-everything (correct but change-DISproportional). Each
        dir's bitmap is ~10 bits/key (FP ≈ 1.7% at k=3), power-of-two
        clamped to [BLOOM_BITS, BLOOM_MAX_BITS]; the size travels
        with the bitmap ({col: {"num_bits": m, "words": {word:
        bits}}}) because probe positions are modulo m — a probe
        against the wrong modulus would be a silent false negative.

        Sizing key count = the dir's ROW count (r07): count(*) on
        just-written parquet answers from footer metadata — no data
        scan — and is shared across every bloom column, vs the r06
        per-column distinct().count() which re-scanned the dir once
        per column before the bloom-build scan. Rows upper-bound
        distinct keys, so duplicate-heavy dirs only OVER-size
        (lower FP, never a correctness or saturation risk).

        SIDECAR SPLIT (r07): big bitmaps don't live in the manifest.
        Every commit rewrites the whole manifest JSON, so inline
        words make commit cost and driver parse time grow with TOTAL
        dir count — the one driver-side surface that was O(table) at
        100 TB. Bitmaps past ``BLOOM_SIDECAR_MIN_WORDS`` are written
        ONCE to ``<data_dir>/_sidecar/blooms.json`` (inside the dir: written
        before the manifest references it — crash leaves unreferenced
        garbage, never a dangling pointer — immutable afterwards, and
        vacuum reclaims it with the dir); the manifest keeps only
        {num_bits, sidecar: 1} per column. Probes lazy-load and cache
        sidecars per dir, so a point lookup reads only the candidate
        dirs' sidecars, never the whole table's."""
        from end_to_end_etl_pipeline_spark.operators.sketches import bloom_build

        df = self.spark.read.schema(schema).parquet(data_dir)
        out: dict = {}
        n = df.count() if bloom_cols else 0  # footer-only job
        num_bits = self.BLOOM_BITS
        while num_bits < 10 * n and num_bits < self.BLOOM_MAX_BITS:
            num_bits *= 2
        for c in bloom_cols:
            keys = df.select(c).where(F.col(c).isNotNull())
            rows = bloom_build(
                keys,
                c,
                num_bits=num_bits,
                num_hashes=self.BLOOM_HASHES,
            ).collect()
            out[c] = {
                "num_bits": num_bits,
                "words": {str(r["word"]): int(r["bits"]) for r in rows},
            }
        total_words = sum(len(v["words"]) for v in out.values())
        if out and total_words >= self.BLOOM_SIDECAR_MIN_WORDS:
            self.fs.write_text(
                f"{data_dir}/_sidecar/blooms.json", json.dumps(out, sort_keys=True)
            )
            return {
                c: {"num_bits": v["num_bits"], "sidecar": 1}
                for c, v in out.items()
            }
        return out

    def _bloom_resolve(self, data_dir: str, col: str, bm) -> tuple[int, dict] | None:
        """(num_bits, words) for one dir/column: the inline sized
        bitmap ({"num_bits": m, "words": {...}}), or a sidecar marker
        resolved through the per-dir cache. Anything else — no bloom,
        an unreadable or incomplete sidecar, a bitmap not in the sized
        form — returns None and the caller keeps the dir (pruning is
        an IO optimization; a guess would risk a false negative)."""
        if not isinstance(bm, dict) or "num_bits" not in bm:
            return None
        words = bm.get("words")
        if bm.get("sidecar"):
            side = self._bloom_sidecars.get(data_dir)
            if side is None:
                self._load_sidecars([data_dir])
                side = self._bloom_sidecars[data_dir]
            words = (side.get(col) or {}).get("words")
        if not isinstance(words, dict):
            return None
        return int(bm["num_bits"]), words

    def _load_sidecars(self, dirs: Sequence[str]) -> None:
        """Bulk-load bloom sidecars into the per-dir cache. A probe
        over a big table may need hundreds of sidecars cold; one
        py4j/object-store round trip EACH would put an O(dirs) stall
        back on the driver — exactly what the sidecar split removed
        from commits. Sidecars on the catalog's local filesystem
        (:meth:`HadoopFS._local`, whatever the dir's spelling) read
        directly (~0.1 ms); anything else fetches every missing file
        in ONE ``spark.read.text(wholetext)`` job (an object store
        serves the GETs in parallel). Unreadable sidecars cache as
        {} — the probe keeps those dirs."""
        missing = [d for d in dict.fromkeys(dirs) if d not in self._bloom_sidecars]
        if not missing:
            return
        paths = {d: f"{d}/_sidecar/blooms.json" for d in missing}
        remote = []
        for d, path in paths.items():
            if self.fs._local(path) is None:
                remote.append(d)
                continue
            try:
                self._bloom_sidecars[d] = json.loads(self.fs.read_text(path))
            except Exception:
                self._bloom_sidecars[d] = {}
        if not remote:
            return
        try:
            import urllib.parse

            rows = (
                self.spark.read.text([paths[d] for d in remote], wholetext=True)
                .select(
                    F.input_file_name().alias("path"), F.col("value")
                )
                .collect()
            )
            # key on the decoded PATH component: input_file_name
            # renders file:///x (URL-encoded) where makeQualified
            # says file:/x — comparing full URIs silently matches
            # nothing and disables pruning
            def _pathkey(p: str) -> str:
                return urllib.parse.unquote(urllib.parse.urlparse(p).path)

            by_path = {_pathkey(r["path"]): r["value"] for r in rows}
            for d in remote:
                text = by_path.get(_pathkey(self.fs.qualified(paths[d])))
                try:
                    self._bloom_sidecars[d] = json.loads(text) if text else {}
                except Exception:
                    self._bloom_sidecars[d] = {}
        except Exception:
            # batch read failed (e.g. one missing file): fall back to
            # per-dir reads so one bad sidecar can't disable pruning
            for d in remote:
                try:
                    self._bloom_sidecars[d] = json.loads(
                        self.fs.read_text(paths[d])
                    )
                except Exception:
                    self._bloom_sidecars[d] = {}

    def _bloom_positions(
        self, value, m: int, spark_type=None
    ) -> list[tuple[int, int]]:
        """Probe positions for one value in an ``m``-bit bitmap:
        [(word, bit)] per hash row.
        Must match the JVM build bit-for-bit, or the probe silently
        skips the dir that holds the key (a false NEGATIVE — the one
        thing a bloom must never do).

        The build hashes ``CAST(col AS STRING)``; Python ``str()``
        renders bool ('True' vs 'true'), float (repr/scientific
        notation), Decimal (trailing-zero scale), and timestamps
        differently, so the driver-side hashlib fast path runs only
        when the CALLER passes ``spark_type=None`` — the caller's
        contract (see :meth:`bloom_pruned_dirs`) is that it does so
        only for (str value, string column) and (int value, integral
        column), the pairings whose renderings provably agree. Every
        other case routes through the SAME Spark expression as the
        build
        (``operators/sketches._bloom_pos`` over a one-row literal
        frame): a ~100 ms local job, paid only for exotic probe
        types, never a wrong bit. ``spark_type`` pins the literal
        frame's column to the TABLE column's type — type inference
        would otherwise render e.g. a python Decimal as
        decimal(38,18) ('3.14000000000000000000') where the build
        hashed decimal(10,4) ('3.1400')."""
        import hashlib

        if spark_type is None:
            out = []
            for h in range(self.BLOOM_HASHES):
                pos = (
                    int(
                        hashlib.md5(f"{h}:{value}".encode()).hexdigest()[:8],
                        16,
                    )
                    % m
                )
                out.append((pos // 32, pos % 32))
            return out
        from pyspark.sql.types import StructField, StructType

        from end_to_end_etl_pipeline_spark.operators.sketches import (
            _bloom_pos,
        )

        probe_df = self.spark.createDataFrame(
            [(value,)],
            StructType([StructField("__key", spark_type)]),
        )
        rows = (
            probe_df
            .select(
                F.explode(
                    F.sequence(F.lit(0), F.lit(self.BLOOM_HASHES - 1))
                ).alias("__h"),
                "__key",
            )
            .select(
                _bloom_pos(F.col("__h"), F.col("__key"), m).alias("__pos")
            )
            .collect()
        )
        return [(r["__pos"] // 32, r["__pos"] % 32) for r in rows]

    def bloom_pruned_dirs(self, name: str, col: str, value) -> list[str]:
        """Latest-version data dirs whose bloom for ``col`` MIGHT
        contain ``value``.
        Dirs without a bloom are kept — skipping is an IO optimization
        and must never change results. NULL probes keep every dir
        (equality on NULL matches nothing anyway)."""
        manifest = self._require_manifest(name)
        col_type = self._column_type(name, col, manifest)
        return self._bloom_pruned_dirs_resolved(manifest, col, value, col_type)

    def _column_type(self, name: str, col: str, manifest: dict):
        """Datatype of one column, without the full-table mergeSchema
        footer job ``read(name).schema`` pays (O(dirs) — measured
        ~2 s at 240 dirs, ON EVERY point probe): the version's
        recorded schema when it carries one (no job); else read the
        NEWEST dir's footer only (new columns land in new dirs, so it
        has the evolved schema), fall back to the merged view if the
        column is absent there. Footer types are cached per (table,
        col) — a committed column's TYPE can never change by append
        (parquet schema-merge would reject the dir); replace_atomic
        and drop, which can retype it, invalidate."""
        schema = _recorded_schema(manifest)
        if schema is not None:
            return schema[col].dataType
        key = (name, col)
        t = self._col_types.get(key)
        if t is not None:
            return t
        dirs = self._dirs(manifest)
        if dirs:
            sch = self.spark.read.parquet(dirs[-1]).schema
            if col in sch.names:
                t = sch[col].dataType
        if t is None:
            t = self.read(name).schema[col].dataType
        self._col_types[key] = t
        return t

    def _bloom_pruned_dirs_resolved(
        self, manifest: dict, col: str, value, col_type
    ) -> list[str]:
        """:meth:`bloom_pruned_dirs` after manifest/column-type
        resolution — batch callers (``delete_where`` probing many
        values) resolve ONCE and loop here instead of paying a
        manifest read + schema resolution per value."""
        blooms = manifest.get("blooms") or {}
        if value is None:
            return self._dirs(manifest)
        # The fast-path decision must consult the TABLE column's type,
        # not the probe value's Python type: an int probe against a
        # double column renders '42' in Python but the build hashed
        # CAST(42.0 AS STRING) = '42.0' — every bit wrong, a silent
        # false negative. Only (str value, string column) and
        # (non-bool int value, integral column) provably render
        # identically; everything else goes through the build's own
        # Spark expression typed as the column. (Schema fetch is
        # metadata-only, no job.)
        from pyspark.sql.types import (
            ByteType, IntegerType, LongType, ShortType, StringType,
        )

        fast = (
            isinstance(value, str) and isinstance(col_type, StringType)
        ) or (
            isinstance(value, int)
            and not isinstance(value, bool)
            and isinstance(
                col_type, (ByteType, ShortType, IntegerType, LongType)
            )
        )
        # dirs may carry differently-sized bitmaps (adaptive sizing):
        # probe positions are modulo the bitmap size, so compute (and
        # cache) one probe per distinct size
        probes: dict[int, list[tuple[int, int]] | None] = {}
        all_dirs = self._dirs(manifest)
        bms = {d: (blooms.get(d) or {}).get(col) for d in all_dirs}
        self._load_sidecars(
            [d for d, bm in bms.items() if isinstance(bm, dict) and bm.get("sidecar")]
        )
        kept = []
        for d in all_dirs:
            parsed = self._bloom_resolve(d, col, bms[d])
            if parsed is None:
                kept.append(d)
                continue
            m, words = parsed
            if m not in probes:
                try:
                    probes[m] = self._bloom_positions(
                        value, m, None if fast else col_type
                    )
                except Exception:
                    # a probe value the column's type can't hold (e.g.
                    # a str probe against bigint): pruning is an IO
                    # optimization — degrade to keeping the dir rather
                    # than guessing a rendering and risking a false
                    # negative
                    probes[m] = None
            probe = probes[m]
            if probe is None or all(
                (int(words.get(str(w), 0)) >> b) & 1 for w, b in probe
            ):
                kept.append(d)
        return kept

    def read_point(self, name: str, col: str, value) -> DataFrame:
        """Equality-probe read with bloom-level data skipping: scan
        only dirs whose bloom might contain the key, then apply the
        row filter (blooms prove possible membership, not membership).
        The point-lookup complement of :meth:`read_range` — at scale,
        the difference between reading the one append that holds an
        id and listing a year of appends whose min/max all straddle
        it."""
        dirs = self.bloom_pruned_dirs(name, col, value)
        if not dirs:
            return self.read(name).filter(F.lit(False))
        return self._read_dirs(dirs).filter(F.col(col) == F.lit(value))

    def pruned_dirs(self, name: str, col: str, lo, hi) -> list[str]:
        """Latest-version data dirs whose [min,max] stats for ``col``
        overlap [lo, hi]. Dirs without stats (or with an all-NULL column) are
        kept — skipping is an IO optimization and must never change
        results; the caller still applies the row filter."""
        manifest = self._require_manifest(name)
        stats = manifest.get("stats") or {}
        kept = []
        for d in self._dirs(manifest):
            rng = (stats.get(d) or {}).get(col)
            if rng is None or rng[0] is None or rng[1] is None:
                kept.append(d)
            elif not (rng[1] < lo or rng[0] > hi):
                kept.append(d)
        return kept

    def read_range(self, name: str, col: str, lo, hi) -> DataFrame:
        """Range-predicate read with manifest-level data skipping:
        scan only dirs whose stats overlap, then apply the row filter
        (dir stats bound ranges, they don't prove membership). At
        scale this is the difference between touching one day's
        append and listing a year of them."""
        dirs = self.pruned_dirs(name, col, lo, hi)
        if not dirs:  # every dir skipped: empty frame, full schema
            return self.read(name).filter(F.lit(False))
        return self._read_dirs(dirs).filter(F.col(col).between(lo, hi))

    def diff_versions(
        self,
        name: str,
        v_from: int,
        v_to: int | None = None,
        keys: Sequence[str] | None = None,
    ) -> DataFrame:
        """Change-data-feed between two committed versions (the
        observable surface of Delta's ``readChangeFeed``), derived
        from the immutable version log rather than per-commit change
        files.

        Without ``keys``: full-row multiset symmetric difference —
        ``_change_type`` ∈ {insert, delete} via two ``exceptAll``
        hash set-ops (one shuffle each, map-side partial counting).

        With ``keys``: keyed CDC — a single full-outer join on the
        key columns comparing a sha2 hash of the non-key columns:
        new-only keys → insert, old-only → delete, both-but-changed →
        update_pre (old image) + update_post (new image). One shuffle
        on the keys; unchanged rows never leave the join stage.

        Columns added since ``v_from`` read as NULL in the old image
        (mergeSchema), so schema evolution surfaces as updates, not
        errors.
        """
        from end_to_end_etl_pipeline_spark.operators.hashing import row_hash_col

        if v_to is None:
            v_to = self._versions(name)[-1]
        old, new = self.read(name, version=v_from), self.read(name, version=v_to)
        all_cols = list(new.columns) + [c for c in old.columns if c not in new.columns]

        def aligned(df: DataFrame, other: DataFrame) -> DataFrame:
            dtypes = dict(df.dtypes) | dict(other.dtypes)
            return df.select(
                *[
                    F.col(c) if c in df.columns else F.lit(None).cast(dtypes[c]).alias(c)
                    for c in all_cols
                ]
            )

        old, new = aligned(old, new), aligned(new, old)
        ct = "_change_type"
        if not keys:
            return new.exceptAll(old).withColumn(ct, F.lit("insert")).unionByName(
                old.exceptAll(new).withColumn(ct, F.lit("delete"))
            )
        data_cols = [c for c in all_cols if c not in keys]
        h = row_hash_col(data_cols)
        o = old.withColumn("__h", h).alias("o")
        n = new.withColumn("__h", h).alias("n")
        cond = [o[k].eqNullSafe(n[k]) for k in keys]
        j = o.join(n, cond, "full_outer")
        # presence via the hash cols: never NULL on a real row (the
        # null-sentinel concat hash), unlike key cols which may be NULL
        o_first, n_first = F.col("o.__h"), F.col("n.__h")
        side = lambda a, cols: [F.col(f"{a}.{c}").alias(c) for c in cols]  # noqa: E731
        inserts = j.filter(o_first.isNull() & n_first.isNotNull()).select(
            *side("n", all_cols), F.lit("insert").alias(ct)
        )
        deletes = j.filter(n_first.isNull() & o_first.isNotNull()).select(
            *side("o", all_cols), F.lit("delete").alias(ct)
        )
        changed = j.filter(
            o_first.isNotNull()
            & n_first.isNotNull()
            & (F.col("o.__h") != F.col("n.__h"))
        )
        pre = changed.select(*side("o", all_cols), F.lit("update_pre").alias(ct))
        post = changed.select(*side("n", all_cols), F.lit("update_post").alias(ct))
        return inserts.unionByName(deletes).unionByName(pre).unionByName(post)

    def replace_atomic(
        self, df: DataFrame, name: str, partition_by=None,
        base_version: int | None = None,
    ) -> int | None:
        """K1 — full refresh as one manifest commit (readers see old or
        new, never between; crash leaves old manifest current).
        Returns the committed version.

        Without ``base_version`` the publish is last-writer-wins, right
        for content that does not depend on the table's prior state
        (bronze, gold). ``df`` computed FROM version ``base_version``
        (0: no table yet) claims exactly ``base_version + 1`` and
        returns None when another writer got there first — the caller
        re-reads the new latest and recomputes (``operators.scd.SCDEngine``).

        A write that raises, or a lost race, deletes its data dir, so
        ``data/`` holds no dir that no manifest lists.

        Refuses to overwrite a bucketed table: that would silently
        discard its bucket layout and metadata (IVF-PQ store, text
        index); ``drop`` it first."""
        prior = self.latest_manifest(name)
        if prior is not None and prior.get("bucket_dirs") is not None:
            raise ValueError(
                f"table {name} is bucketed (bucket_fn="
                f"{prior.get('bucket_fn', 'hash_pmod')!r}); overwriting would "
                "discard its layout"
            )
        data_dir = self._new_data_dir(name)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        try:
            writer.parquet(data_dir)
        except Exception:
            self.fs.delete(data_dir)  # no manifest will ever list it
            raise
        manifest = {"dirs": [data_dir], "bucket_dirs": None, "n_buckets": None}
        if not partition_by:
            manifest["schema"] = df.schema.json()
        if base_version is None:
            version = self._commit(name, manifest)
        else:
            version = self._commit_if(name, manifest, base_version)
            if version is None:
                self.fs.delete(data_dir)  # lost the race: the caller recomputes
        # A wholesale rewrite can legally land a different type for an
        # existing column name (no schema-merge guard spans versions) —
        # a stale cached type would hash bloom probes wrongly and
        # silently prune a dir that holds the value. Drop this table's
        # cached column types; sidecars key on (now-orphaned) dirs, so
        # fresh dirs re-read naturally.
        for key in [k for k in self._col_types if k[0] == name]:
            del self._col_types[key]
        return version

    def append(self, df: DataFrame, name: str, stats_cols=None, bloom_cols=None) -> None:
        """K2 — append = new data dir + manifest listing old dirs + new.
        Bucketed tables reject plain appends (they would break the
        bucket→dir mapping): use :meth:`append_bucketed`.
        Existing dirs' stats and blooms carry forward untouched —
        immutable dirs mean they never go stale."""
        data_dir = self._new_data_dir(name)
        df.write.mode("overwrite").parquet(data_dir)
        new_stats = (
            self._dir_stats(data_dir, stats_cols, df.schema) if stats_cols else None
        )
        new_blooms = (
            self._dir_blooms(data_dir, bloom_cols, df.schema) if bloom_cols else None
        )
        # CAS loop: the manifest content derives from the latest
        # version, so rebase + retry on a concurrent commit instead of
        # silently dropping its dirs (lost update)
        while True:
            manifest = self.latest_manifest(name)
            if manifest is not None and manifest.get("bucket_dirs") is not None:
                raise ValueError(
                    f"table {name} is bucketed; use append_bucketed, "
                    "not append"
                )
            dirs = (manifest["dirs"] if manifest else []) + [data_dir]
            stats = dict((manifest or {}).get("stats") or {})
            if new_stats is not None:
                stats[data_dir] = new_stats
            blooms = dict((manifest or {}).get("blooms") or {})
            if new_blooms is not None:
                blooms[data_dir] = new_blooms
            base = manifest["version"] if manifest else 0
            if self._commit_if(
                name,
                {
                    "dirs": dirs,
                    "bucket_dirs": None,
                    "n_buckets": None,
                    "stats": stats or None,
                    "blooms": blooms or None,
                },
                base,
            ):
                return

    def append_bucketed(
        self,
        df: DataFrame,
        name: str,
        n_buckets: int,
        bucket_keys: Sequence[str],
        bucket_fn: str = "hash_pmod",
        extras_update: dict | None = None,
        extras_fn=None,
    ) -> None:
        """K2 for BUCKETED tables: write the batch partitioned by its
        bucket id and CAS-merge the new per-bucket subdirs into
        ``bucket_dirs`` — buckets untouched by the batch keep their
        existing dir lists verbatim, so bucket-pruned readers never
        pay for appends elsewhere. First call creates the table with
        the given layout; later calls must match it (changing the
        bucket contract silently would corrupt pruning). Rows land in
        buckets by :func:`bucket_id` over ``bucket_keys`` under
        ``bucket_fn``.

        ``extras_update`` merges extra keys into the committed
        manifest ATOMICALLY with the dir merge — the hook streaming
        bridges use to ride a replay marker (e.g. last applied batch
        id) on the same commit as the data, so a crash between data
        and marker cannot happen.

        ``extras_fn`` is the read-modify-write form of the same hook:
        ``extras_fn(manifest_or_None) -> dict``, called INSIDE the
        CAS loop with the manifest the commit will be attempted
        against, so keys whose new value depends on the previous one
        (e.g. merging per-cell row counts) stay correct under
        concurrent appends — a dict computed outside would go stale
        on CAS retry.  Applied after ``extras_update``."""
        written = self._write_buckets(df, name, bucket_keys, n_buckets, bucket_fn)
        while True:
            manifest = self.latest_manifest(name)
            if manifest is None:
                committed = self._commit_if(
                    name,
                    {
                        "dirs": None,
                        "bucket_dirs": written,
                        "n_buckets": n_buckets,
                        "bucket_keys": list(bucket_keys),
                        "bucket_fn": bucket_fn,
                    }
                    | (extras_update or {})
                    | (extras_fn(None) if extras_fn else {}),
                    0,
                )
                if committed:
                    return
                continue
            if manifest.get("bucket_dirs") is None:
                raise ValueError(
                    f"table {name} is unbucketed; use append, not append_bucketed"
                )
            if (
                manifest.get("n_buckets") != n_buckets
                or list(manifest.get("bucket_keys") or []) != list(bucket_keys)
                or manifest.get("bucket_fn", "hash_pmod") != bucket_fn
            ):
                raise ValueError(
                    f"table {name}: bucket layout mismatch "
                    f"(existing n={manifest.get('n_buckets')} "
                    f"keys={manifest.get('bucket_keys')} "
                    f"fn={manifest.get('bucket_fn', 'hash_pmod')!r})"
                )
            bucket_dirs = {b: list(ds) for b, ds in manifest["bucket_dirs"].items()}
            for b, ds in written.items():
                bucket_dirs.setdefault(b, []).extend(ds)
            if self._commit_if(
                name,
                self._carried(manifest)
                | {"dirs": None, "bucket_dirs": bucket_dirs}
                | (extras_update or {})
                | (extras_fn(manifest) if extras_fn else {}),
                manifest["version"],
            ):
                return

    def drop(self, name: str) -> None:
        self.fs.delete(self.table_dir(name))
        # A later table of the same name may carry different column
        # types; stale entries would mis-hash its bloom probes. Its
        # version numbers also restart at 1, so cached manifests for
        # the old incarnation would shadow the new one's.
        for key in [k for k in self._col_types if k[0] == name]:
            del self._col_types[key]
        for key in [k for k in self._manifest_cache if k[0] == name]:
            del self._manifest_cache[key]

    def delete_where(self, name: str, col: str, values: Sequence) -> int:
        """Targeted row delete (the GDPR / right-to-be-forgotten path,
        Delta's ``DELETE WHERE key IN (...)``): rewrite ONLY the data
        dirs that might contain the keys — bloom-pruned per value,
        with stats/bloom-less dirs conservatively included — leave
        every other dir untouched byte-for-byte, and commit the swap
        atomically.  At scale this is the difference between
        rewriting the one append that holds a user's rows and
        rewriting a year of table.

        Versioning: the PRIOR manifest still references the
        pre-delete dirs, so time-travel reads keep working until
        :meth:`vacuum` reclaims them — the vacuum retention window is
        the audit-trail-vs-erasure-deadline dial, exactly as in
        Delta/Iceberg.  Stats and blooms for untouched dirs carry
        forward verbatim; the rewritten dir gets fresh ones over the
        same column sets (a deleted key's bits may linger in other
        dirs' blooms — blooms overapprove, never skip wrongly).

        Plain (dir-listed) tables only; CAS-retried against
        concurrent appends (each retry re-prunes against the new
        manifest; an abandoned rewrite dir is a crash orphan that
        :meth:`vacuum` collects).  Returns rows deleted."""
        # NULL values cannot match by equality, but a NULL inside an
        # IN-list poisons the KEEP filter: for every non-matching row
        # ``x IN (ids..., NULL)`` is NULL, ``~NULL`` is NULL, and the
        # rewrite would silently drop (nearly) the whole table — so
        # strip them up front
        values = [v for v in values if v is not None]
        if not values:
            return 0
        while True:
            manifest = self._require_manifest(name)
            if manifest.get("bucket_dirs") is not None:
                raise ValueError(
                    f"table {name} is bucketed — delete via a bucket "
                    "rewrite is not implemented"
                )
            affected, keep = self._bloom_split(name, manifest, col, values)
            if not affected:
                return 0
            # the rewrite holds a subset of the same rows: read (and so
            # write) it under the recorded schema, which the commit keeps
            df = self._read_dirs(affected, _recorded_schema(manifest))
            before = df.count()
            # NULL keys survive: DELETE WHERE col IN (...) is
            # three-valued — NULL IN (...) is NULL, not TRUE, so a
            # bare ~isin would silently drop NULL-keyed rows
            kept_rows = df.filter(
                F.col(col).isNull() | ~F.col(col).isin(values)
            )
            after = kept_rows.count()
            if after == before:
                return 0  # blooms overapproved; nothing actually matched
            if self._commit_rewrite(
                name, manifest, keep, affected,
                kept_rows if after > 0 else None, manifest.get("schema"),
            ):
                return before - after

    def _bloom_split(
        self, name: str, manifest: dict, col: str, values: Sequence
    ) -> tuple[list[str], list[str]]:
        """(affected, keep): the dirs whose blooms might hold any of
        ``values`` and the rest, both in manifest order. The column
        type resolves ONCE for the whole key batch — a per-value
        :meth:`bloom_pruned_dirs` would re-read the manifest and
        re-resolve the parquet schema per key."""
        col_type = self._column_type(name, col, manifest)
        hit: set[str] = set()
        for v in values:
            hit.update(
                self._bloom_pruned_dirs_resolved(manifest, col, v, col_type)
            )
        all_dirs = self._dirs(manifest)
        return (
            [d for d in all_dirs if d in hit],
            [d for d in all_dirs if d not in hit],
        )

    def _commit_rewrite(
        self,
        name: str,
        manifest: dict,
        keep: Sequence[str],
        replaced: Sequence[str],
        rows: DataFrame | None,
        schema: str | None,
    ) -> bool:
        """The plain-table row-rewrite commit (:meth:`delete_where`,
        :meth:`update_where`, :meth:`delete_range`, :meth:`optimize`):
        the ``replaced`` dirs leave the manifest with their stats and
        blooms; ``rows`` (None = nothing survives) land in one fresh
        dir with stats and blooms over the column sets the replaced
        dirs had; the new version lists ``keep`` + that dir and
        records ``schema`` (None = readers infer footers). CAS on
        ``manifest``'s version — False means a concurrent commit won
        and the caller re-plans against the new latest (the written
        dir is an orphan :meth:`vacuum` collects)."""
        stats = dict(manifest.get("stats") or {})
        blooms = dict(manifest.get("blooms") or {})
        stat_cols = sorted({c for d in replaced for c in stats.get(d) or {}})
        bloom_cols = sorted({c for d in replaced for c in blooms.get(d) or {}})
        for d in replaced:
            stats.pop(d, None)
            blooms.pop(d, None)
        dirs = list(keep)
        if rows is not None:
            data_dir = self._new_data_dir(name)
            rows.write.mode("overwrite").parquet(data_dir)
            dirs.append(data_dir)
            if stat_cols:
                stats[data_dir] = self._dir_stats(data_dir, stat_cols, rows.schema)
            if bloom_cols:
                blooms[data_dir] = self._dir_blooms(
                    data_dir, bloom_cols, rows.schema
                )
        new = self._carried(manifest) | {
            "dirs": dirs,
            "bucket_dirs": None,
            "stats": stats or None,
            "blooms": blooms or None,
        }
        if schema is not None:
            new["schema"] = schema
        return self._commit_if(name, new, manifest["version"]) is not None

    def shallow_clone(self, src: str, dst: str) -> int:
        """Zero-copy snapshot publication (Delta's ``SHALLOW CLONE``):
        commit a new table whose manifest references the SOURCE's
        latest data dirs — no bytes move, so
        cloning a 100-TB table is one JSON write.  The clone then
        evolves independently (appends/deletes land in its own dirs;
        the shared dirs are immutable by design).

        The standard shallow-clone caveat applies here exactly as in
        Delta: the clone's manifest references dirs under the
        SOURCE's table path, and :meth:`vacuum` is per-table — a
        vacuum of the source that drops the cloned version's dirs
        breaks the clone.  Pin the source's retention to cover live
        clones, or re-materialize (``replace_atomic(read(clone),
        ...)``) to sever the dependency — the deep-clone equivalent.
        Returns the committed clone version (always 1)."""
        manifest = self._require_manifest(src)
        if self.latest_manifest(dst) is not None:
            raise ValueError(f"table {dst} already exists")
        clone = {k: v for k, v in manifest.items() if k != "version"}
        clone["cloned_from"] = {"table": src, "version": manifest["version"]}
        return self._commit(dst, clone)

    def update_where(
        self, name: str, col: str, values: Sequence, set_exprs: dict
    ) -> int:
        """Targeted row UPDATE (Delta's ``UPDATE ... WHERE key IN``,
        completing the catalog's CRUD surface next to append /
        delete_where / the SCD MERGEs): rewrite ONLY the dirs whose
        blooms might hold the keys, applying ``set_exprs``
        ({column: Column expression}) to the MATCHING rows — all
        other rows in those dirs, and every other dir byte-for-byte,
        pass through unchanged.  Set expressions may reference the
        row's own columns (``{"price": F.col("price") * 1.1}``).
        NULL keys never match (three-valued IN).  Stats/blooms for
        rewritten dirs are recomputed over the same column sets, so
        data skipping stays correct when an updated column IS a
        stats/bloom column.  Prior versions stay time-travelable
        until vacuum.  Returns rows updated."""
        values = [v for v in values if v is not None]
        if not values or not set_exprs:
            return 0
        bad = [c for c in set_exprs if c == col]
        if bad:
            raise ValueError(
                f"update_where cannot rewrite the match column {col!r} "
                "itself — delete + append expresses a key change "
                "without ambiguity"
            )
        while True:
            manifest = self._require_manifest(name)
            if manifest.get("bucket_dirs") is not None:
                raise ValueError(
                    f"table {name} is bucketed; update_where rewrites "
                    "plain tables only"
                )
            affected, keep = self._bloom_split(name, manifest, col, values)
            if not affected:
                return 0
            df = self._read_dirs(affected, _recorded_schema(manifest))
            match = F.col(col).isin(values)
            updated = df.filter(match).count()
            if updated == 0:
                return 0  # blooms overapproved; nothing matched
            out = df.withColumns(
                {
                    c: F.when(match, expr).otherwise(F.col(c))
                    for c, expr in set_exprs.items()
                }
            )
            # a set expression may retype a column: drop the schema
            if self._commit_rewrite(
                name, manifest, keep, affected, out, schema=None
            ):
                return updated

    def delete_range(self, name: str, col: str, lo, hi) -> int:
        """Range-targeted delete — retention enforcement ("drop
        everything with ``col`` in [lo, hi]", typically an age
        cutoff): the range sibling of :meth:`delete_where`, pruned by
        the per-dir min/max STATS instead of blooms.  Dirs entirely
        inside the range are dropped WITHOUT being read or rewritten
        (the common case for time-ordered appends — expiring a month
        means unlinking that month's dirs from the manifest); dirs
        straddling a boundary are rewritten filtered; dirs outside,
        and stat-less dirs' complement, survive byte-for-byte.  NULLs
        survive (BETWEEN is three-valued).  Prior versions stay
        time-travelable until vacuum.  Returns rows deleted."""
        while True:
            manifest = self._require_manifest(name)
            if manifest.get("bucket_dirs") is not None:
                raise ValueError(
                    f"table {name} is bucketed — range delete is for "
                    "plain (dir-listed) tables"
                )
            stats = manifest.get("stats") or {}
            drop, rewrite, keep = [], [], []
            for d in self._dirs(manifest):
                rng = (stats.get(d) or {}).get(col)
                if rng is None or rng[0] is None or rng[1] is None:
                    rewrite.append(d)  # unknown range: must look
                elif rng[1] < lo or rng[0] > hi:
                    keep.append(d)  # disjoint: untouched
                elif lo <= rng[0] and rng[1] <= hi:
                    drop.append(d)  # wholly inside: unlink, no read
                else:
                    rewrite.append(d)  # straddles a boundary
            if not drop and not rewrite:
                return 0
            deleted, rows = 0, None
            if drop:
                # min/max stats ignore NULLs, so a "wholly inside" dir
                # can still hold NULL rows that must SURVIVE (BETWEEN
                # is three-valued) — one column-pruned probe decides
                # between pure unlink and demotion to the rewrite path
                df_drop = self._read_dirs(drop, _recorded_schema(manifest))
                if df_drop.filter(F.col(col).isNull()).limit(1).count() > 0:
                    rewrite = rewrite + drop
                    drop = []
                else:
                    deleted += df_drop.count()
            if rewrite:
                df = self._read_dirs(rewrite, _recorded_schema(manifest))
                before = df.count()
                kept_rows = df.filter(
                    F.col(col).isNull() | ~F.col(col).between(lo, hi)
                )
                after = kept_rows.count()
                if after == before:
                    # stats overapproved (stat-less dirs, or a
                    # straddling range holding no rows): the rewrite
                    # dirs are byte-identical — keep them, write
                    # NOTHING (an unconditional rewrite would orphan a
                    # full copy of the table on every no-op call)
                    keep.extend(rewrite)
                    rewrite = []
                else:
                    deleted += before - after
                    rows = kept_rows if after > 0 else None
            if deleted == 0:
                return 0  # nothing matched anywhere; state unchanged
            if self._commit_rewrite(
                name, manifest, keep, drop + rewrite, rows,
                manifest.get("schema"),
            ):
                return deleted

    # -- maintenance ----------------------------------------------------
    def optimize(self, name: str) -> None:
        """K8 — compaction: rewrite the current table state into fresh
        data dirs (one per bucket on a bucketed table, one on a plain
        table). Readers are never disturbed: old dirs stay referenced
        by old manifests until :meth:`vacuum`. A plain table's
        compacted dir gets stats and blooms over the column sets the
        dirs it replaces had (the :meth:`_commit_rewrite` rule), so
        manifest-level data skipping survives compaction; a bucketed
        table skips by bucket pruning. :meth:`optimize_zorder` is the
        OPTIMIZE/ZORDER stand-in.

        Compacted content is exactly the base version's rows, so the
        publish is a compare-and-swap on that base: a concurrent
        append landing mid-rewrite makes the CAS fail and the rewrite
        rebase onto the new latest (same lost-update discipline as
        :meth:`append` — last-writer-wins here would silently drop
        the concurrent commit's dirs). Orphaned rewrite dirs from
        lost races are collected by :meth:`vacuum`."""
        while True:
            manifest = self._require_manifest(name)
            base = manifest["version"]
            # pin the scan to the base version: reading "latest" could
            # silently span a concurrent commit and desync from the CAS
            df = self.read(name, version=base)
            if manifest.get("bucket_dirs") is None:
                if self._commit_rewrite(
                    name, manifest, [], self._dirs(manifest), df,
                    schema=df.schema.json(),
                ):
                    return
                continue
            # the carried bucket contract (bucket_fn, keys) is what
            # re-buckets the rows: bucket subdir reads drop the bucket
            # column, and an identity-bucketed store must not revert
            # to the default hash contract
            new = self._carried(manifest) | {
                "dirs": None,
                "bucket_dirs": self._write_buckets(df, name, *_layout(manifest)),
            }
            if self._commit_if(name, new, base):
                return

    def maybe_optimize(self, name: str, max_dirs: int = 16) -> bool:
        """Compaction POLICY: run :meth:`optimize` only when the table
        has fragmented past ``max_dirs`` — the small-files trigger
        every append-heavy lakehouse table needs (Delta's
        auto-compact / scheduled OPTIMIZE). Each append commits one
        data dir, so a table taking frequent small batches degrades
        toward one-dir-per-batch scans; calling this after ingest
        (or from a foreachBatch) bounds read amplification at
        ``max_dirs`` scans' worth of listing forever, while quiet
        tables never pay a rewrite.

        Fragmentation measure: plain tables count manifest data dirs;
        bucketed tables count the WORST bucket's dir list (appends
        fragment per touched bucket, and a read probes one bucket —
        the per-probe cost is what the policy must bound). Returns
        True iff a rewrite ran. Concurrency-safe: the underlying
        optimize CAS-rebases."""
        manifest = self._require_manifest(name)
        bucket_dirs = manifest.get("bucket_dirs")
        if bucket_dirs:
            frag = max((len(ds) for ds in bucket_dirs.values()), default=0)
        else:
            frag = len(manifest.get("dirs") or [])
        if frag <= max_dirs:
            return False
        self.optimize(name)
        return True

    def optimize_zorder(
        self,
        name: str,
        cols: Sequence[str],
        stats_cols: Sequence[str] | None = None,
    ) -> None:
        """K8, the interleaved-bit version: rewrite the table
        clustered on the 8-bit-per-column Morton key of ``cols`` (see
        :mod:`sinks.zorder`), split into 8 key-range data dirs, each
        with min/max stats on ``stats_cols`` (default: the clustered
        columns). Unlike a linear sort — which skips on the leading
        column only — every clustered column gets manifest-level data
        skipping via
        :meth:`read_range` / :meth:`pruned_dirs`. Not for bucketed
        tables (their dir layout is the bucket map)."""
        from end_to_end_etl_pipeline_spark.sinks.zorder import BITS, zorder_key

        n_dirs = 8
        # CAS on the base version, like optimize(): the rewrite's
        # content IS the base version's rows, so a concurrent append
        # must force a rebase, not be silently dropped
        while True:
            manifest = self._require_manifest(name)
            if manifest.get("bucket_dirs") is not None:
                raise ValueError(
                    f"table {name} is bucketed; zorder would break its layout"
                )
            base = manifest["version"]
            df = self.read(name, version=base)
            z = zorder_key(df, cols)
            key_space = 1 << (BITS * len(cols))
            zb = F.least(
                F.lit(n_dirs - 1),
                F.floor(z / F.lit(key_space / n_dirs)).cast("int"),
            )
            data_dir = self._new_data_dir(name)
            (
                df.withColumn("__zb", zb)
                .repartition(n_dirs, "__zb")
                .sortWithinPartitions("__zb")
                .write.mode("overwrite")
                .partitionBy("__zb")
                .parquet(data_dir)
            )
            sub_dirs = sorted(
                p for p in self.fs.listdir(data_dir)
                if p.rsplit("/", 1)[-1].startswith("__zb=")
            )
            scols = list(stats_cols or cols)
            stats = {d: self._dir_stats(d, scols, df.schema) for d in sub_dirs}
            new = {
                "dirs": sub_dirs, "bucket_dirs": None, "n_buckets": None,
                "stats": stats,
            }
            if self._commit_if(name, new, base):
                return

    def vacuum(self, name: str, min_age_seconds: int = 3600) -> list[str]:
        """Garbage-collect data dirs the latest manifest does not
        reference (superseded rewrites AND crash orphans that never
        got a manifest), plus every older manifest. Returns deleted
        data-dir paths.

        The latest version can never be collected, so vacuum
        never races a reader. ``min_age_seconds`` protects in-flight
        *writers*: a concurrent commit's data dir exists before its
        manifest does and would otherwise look like an orphan — only
        dirs older than the age floor are eligible (the same reason
        Delta/Iceberg vacuums have a retention threshold). Paths are
        compared fully-qualified: '/x' vs 'file:/x' string inequality
        must not defeat the referenced-set check."""
        import time as _time

        versions = self._versions(name)
        if not versions:
            return []
        retained = versions[-1:]
        referenced: set[str] = set()
        for v in retained:
            m = json.loads(
                self.fs.read_text(f"{self._manifest_dir(name)}/{_MANIFEST_FMT.format(v)}")
            )
            dirs = (
                [d for ds in m["bucket_dirs"].values() for d in ds]
                if m.get("bucket_dirs") is not None
                else m["dirs"]
            )
            # normalize bucket subdirs back to their data/<uuid> root
            for d in dirs:
                parts = d.rstrip("/").split("/")
                while len(parts) > 1 and parts[-2] != "data":
                    parts.pop()
                referenced.add(self.fs.qualified("/".join(parts)))
        now_ms = int(_time.time() * 1000)
        deleted = []
        for p in self.fs.listdir(f"{self.table_dir(name)}/data"):
            if self.fs.qualified(p) in referenced:
                continue
            if now_ms - self.fs.mtime_ms(p) < min_age_seconds * 1000:
                continue  # possibly an in-flight writer's dir
            self.fs.delete(p)
            deleted.append(p)
        for v in versions:
            if v not in retained:
                self.fs.delete(f"{self._manifest_dir(name)}/{_MANIFEST_FMT.format(v)}")
                # a cached manifest for a vacuumed version would let
                # manifest_at() succeed while the data dirs are gone
                self._manifest_cache.pop((name, v), None)
        return deleted
