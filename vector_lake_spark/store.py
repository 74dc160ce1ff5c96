"""The vector-lake store: LSH-sharded partitioned Parquet + exact re-rank.

API parity with the reference's ``Index`` / ``VectorLake`` / ``Partition``
(``/root/reference/vector_lake/core/index.py:431-607``), batch-first:

- ``add_batch``    ≈ ``VectorLake.add`` (I1/I2 row construction, routed)
- ``persist``      ≈ ``Index.persist`` / ``LazyBucket.sync`` (S2) — one
                     ``write.partitionBy("shard_id")`` append; the dirty-row
                     watermark machinery (I3) is subsumed by append-only
                     writes.
- ``load``         ≈ ``LazyBucket._lazy_load`` (S1) — lazy by construction;
                     schema validated against the fixed frame schema
                     (index.py:249-250 behavior).
- ``query``        ≈ ``Index._query`` route→probe→rank (A8/A9) — shard
                     filter (partition-pruned) + exact cosine top-k. Returns
                     *most*-similar rows: the reference's similarity-
                     direction bug is deliberately not reproduced
                     (SURVEY.md §3.2).
- ``delete``       ≈ S8 — recursive dataset delete.
- ``delete_shards``≈ S6/S7 — per-segment delete (index.py:312-325), one
                     partition directory per shard, any URI scheme.
- ``delete_older_than`` — timestamp retention (the schema carries
                     ``timestamp`` per row, reference index.py:198-200);
                     rewrites only shards holding expired rows.
- ``warm_load``    ≈ ``Index.load_local`` (index.py:331-335) — cache the
                     store executor-side and materialize it.

Deliberate deviations (SURVEY.md §7.4): ids are uuid4 via ``F.uuid()`` (or
caller-supplied) rather than time-ordered uuid1; metadata is a JSON string
column (lossless for arbitrary dicts); similarity direction fixed.

Storage layout: ``{location}/data/shard_id=N/*.parquet`` (gzip, matching
the reference's compression choice at index.py:308) plus a ``_meta.json``
sidecar for store attrs (the reference stuffs attrs into pandas
``DataFrame.attrs`` → Parquet metadata, index.py:296-305; a sidecar is the
idiomatic dataset-level equivalent).

Scale design: ``shard_id`` is a physical partition column. A query plans
a scan over only its probed shard directories — an existence check and a
file listing per probed shard, driver-side — so planning starts no Spark
job and never lists the other shards. On a
100 TB store with 256 shards a single-probe query reads ~0.4% of the data.
Appends never rewrite existing files (the reference rewrites whole segments
per sync — index.py:307-308 — which cannot scale); small-file compaction is
an explicit ``compact()`` maintenance op.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from vector_lake_spark.functions.vectors import to_double_array
from vector_lake_spark.operators import lsh as lsh_mod
from vector_lake_spark.operators.topk import topk_cosine

# Reference frame schema (index.py:198-200) mapped per SURVEY.md §1.1.
LAKE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("vector", T.ArrayType(T.DoubleType()), False),
        T.StructField("metadata", T.StringType(), True),  # JSON
        T.StructField("document", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), False),
    ]
)


def _locked(fn):
    """Run a maintenance method under the store's single-writer lease
    (``_maintenance_lock``) — applied to every stage+swap mutator."""

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self._maintenance_lock():
            return fn(self, *args, **kwargs)

    return wrapper


class SparkVectorLake:
    """LSH-sharded vector store (reference ``Index``/``VectorLake`` parity)."""

    def __init__(
        self,
        spark: SparkSession,
        location: str,
        dimension: int,
        approx_shards: int = 16,
        seed: int = 42,
    ):
        self.spark = spark
        self.location = str(location)
        self.dimension = dimension
        self.num_hashes = lsh_mod.num_hashes_for(approx_shards)
        self.num_shards = 2**self.num_hashes
        self.hyperplanes = lsh_mod.make_hyperplanes(dimension, self.num_hashes, seed)
        self._pending: list[DataFrame] = []
        # validated-layout schema, cached per instance (r12, guide §5):
        # a bare spark.read.parquet re-resolves the DataSource and
        # re-infers the schema on EVERY call (~314 ms warm vs ~73 ms
        # with a declared schema). The first load() infers + drift-
        # validates; every self-mutation clears the cache, so external
        # drift is still caught on first read of any layout this
        # instance hasn't written itself.
        self._read_schema = None

    # -- ingest -------------------------------------------------------------

    def add_batch(
        self,
        vectors: Sequence[Sequence[float]],
        metadata: Sequence[dict] | None = None,
        documents: Sequence[str] | None = None,
        ids: Sequence[str] | None = None,
    ) -> list[str]:
        """Batch ingest (the reference's per-row ``add`` is a batch of 1).

        Returns the assigned ids. Rows are routed but kept lazy until
        ``persist()`` — mirroring the reference's dirty-rows-then-sync
        contract (index.py:271-272)."""
        ids, df = self._rows_df(vectors, metadata, documents, ids)
        self._pending.append(df)
        return ids

    def _rows_df(
        self,
        vectors: Sequence[Sequence[float]],
        metadata: Sequence[dict] | None,
        documents: Sequence[str] | None,
        ids: Sequence[str] | None,
    ) -> tuple[list[str], DataFrame]:
        """Validate a batch and build its rows DataFrame (I1/I2).

        ALL validation happens here, before any caller mutates anything:
        length mismatches between ids/vectors/metadata/documents and
        wrong vector dimensions each raise with the store untouched
        (upsert_batch relies on this — a bad batch must never destroy
        the old versions it was going to replace)."""
        n = len(vectors)
        if ids is not None and len(ids) != n:
            raise ValueError(f"batch has {len(ids)} ids but {n} vectors")
        if metadata is not None and len(metadata) != n:
            raise ValueError(
                f"batch has {len(metadata)} metadata dicts but {n} vectors"
            )
        if documents is not None and len(documents) != n:
            raise ValueError(
                f"batch has {len(documents)} documents but {n} vectors"
            )
        for i, v in enumerate(vectors):
            if len(v) != self.dimension:
                raise ValueError(
                    f"vector {i} has dimension {len(v)}, store expects "
                    f"{self.dimension}"
                )
        import uuid

        ids = list(ids) if ids is not None else [str(uuid.uuid4()) for _ in range(n)]
        metadata = list(metadata) if metadata is not None else [{} for _ in range(n)]
        documents = list(documents) if documents is not None else [""] * n
        rows = [
            (
                ids[i],
                [float(x) for x in vectors[i]],
                # I2: falsy metadata → {"id": "1"} (index.py:574-576)
                json.dumps(metadata[i] if metadata[i] else {"id": "1"}, sort_keys=True),
                documents[i],
            )
            for i in range(n)
        ]
        df = self.spark.createDataFrame(
            rows, schema="id string, vector array<double>, metadata string, document string"
        ).withColumn("timestamp", F.current_timestamp())
        return ids, df

    def add_dataframe(self, df: DataFrame) -> None:
        """Ingest a prepared DataFrame with at least a ``vector`` column;
        missing schema columns are defaulted (I1 semantics)."""
        cols = set(df.columns)
        if "id" not in cols:
            df = df.withColumn("id", F.uuid())
        if "metadata" not in cols:
            df = df.withColumn("metadata", F.lit(json.dumps({"id": "1"})))
        if "document" not in cols:
            df = df.withColumn("document", F.lit(""))
        if "timestamp" not in cols:
            df = df.withColumn("timestamp", F.current_timestamp())
        df = df.withColumn("vector", self._validated(to_double_array(F.col("vector"))))
        self._pending.append(df.select([f.name for f in LAKE_SCHEMA.fields]))

    def _validated(self, vec_col):
        """Guard: a wrong-dimension vector would zip_with-pad with NULLs,
        route to a NULL shard_id and land in __HIVE_DEFAULT_PARTITION__
        where shard-pruned queries can never find it — fail the job
        instead (executor-side ``raise_error``, no extra pass)."""
        return F.when(F.size(vec_col) == self.dimension, vec_col).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"vector dimension mismatch: store expects "
                        f"{self.dimension}, got "
                    ),
                    F.size(vec_col).cast("string"),
                )
            )
        )

    # -- durability ---------------------------------------------------------

    def persist(self, **attrs) -> None:
        """Route pending rows and append them as shard-partitioned Parquet
        (S2). Append-only: existing files are never rewritten."""
        if not self._pending:
            return
        df = self._pending[0]
        for extra in self._pending[1:]:
            df = df.unionByName(extra)
        routed = df.withColumn(
            "shard_id", lsh_mod.shard_id_expr("`vector`", self.hyperplanes)
        )
        # Cluster rows by shard before writing: without this every write
        # task emits a file into every shard dir (tasks × shards tiny files
        # — the small-file pathology); with it each shard lands in one file
        # per batch.
        (
            routed.repartition("shard_id")
            .write.mode("append")
            .option("compression", "gzip")
            .partitionBy("shard_id")
            .parquet(self._data_path)
        )
        self._pending = []
        self._read_schema = None
        self._write_meta(attrs)

    @property
    def _data_path(self) -> str:
        # plain string join, not pathlib: Path() collapses the double
        # slash in scheme URIs ("s3a://bucket" → "s3a:/bucket")
        return f"{self.location}/data"

    def _write_meta(self, attrs: dict) -> None:
        import datetime

        meta = {
            "dimension": self.dimension,
            "num_hashes": self.num_hashes,
            "num_shards": self.num_shards,
            "last_update": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        }
        meta.update({k: _json_safe(v) for k, v in attrs.items()})
        # Hadoop FS write (not pathlib): the sidecar must land next to the
        # data on ANY scheme — file://, hdfs://, s3a:// (docs/S3.md)
        fs, p = self._fs_path(f"{self.location}/_meta.json")
        out = fs.create(p, True)
        try:
            out.write(bytearray(json.dumps(meta, indent=2, default=str).encode()))
        finally:
            out.close()

    # -- read path ----------------------------------------------------------

    def load(self) -> DataFrame:
        """Lazy scan of the whole store; schema validated like the
        reference's frame_schema check (index.py:249-250). A store that was
        never persisted scans as empty (the reference returns [] for
        empty-store queries — tests/test_properties.py:74-85).

        Planning lists every shard directory (one Spark listing job once
        the store has more than 32 shards); ``query`` reads through
        ``_scan_shards`` instead, which lists only the probed ones."""
        from pyspark.errors.exceptions.captured import AnalysisException

        def _empty() -> DataFrame:
            empty = self.spark.createDataFrame([], schema=LAKE_SCHEMA)
            return empty.withColumn("shard_id", F.lit(0).cast("long"))

        fs, data_p = self._fs_path(self._data_path)
        if not fs.exists(data_p):
            return _empty()
        if self._read_schema is not None:
            # layout already inferred + drift-validated by this instance
            # and unchanged since (mutators clear the cache): declare the
            # schema instead of paying inference per call (r12, guide §5)
            return self.spark.read.schema(self._read_schema).parquet(
                self._data_path
            )
        try:
            df = self.spark.read.parquet(self._data_path)
        except AnalysisException as e:
            # retention/delete_shards can leave a data dir with zero
            # remaining shard directories — an empty store, not an error
            if "UNABLE_TO_INFER_SCHEMA" in str(e):
                return _empty()
            raise
        expected = {f.name for f in LAKE_SCHEMA.fields} | {"shard_id"}
        if set(df.columns) != expected:
            raise ValueError(
                f"schema drift: store columns {sorted(df.columns)} != expected {sorted(expected)}"
            )
        self._read_schema = df.schema
        return df

    def _scan_shards(self, shard_ids: Sequence) -> DataFrame:
        """Lazy scan of only the listed shards' directories.

        One existence check per listed shard skips the absent ones
        (with none present the scan is empty, typed like the store so a
        string partition key still compares with ``shard_id``); Spark
        then lists just the present directories, serially on the driver
        up to its 32-path threshold. Planning starts no Spark job and
        caches nothing, so the next call sees any write made in
        between. The schema is declared from the first ``load()`` of
        this instance, which also runs the drift check."""
        if self._read_schema is None:
            df = self.load()
            if self._read_schema is None:  # empty store
                return df
        jvm = self.spark._jvm
        # the directory name carries the partition value path-escaped
        escape = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
        dirs = [f"{self._data_path}/shard_id={escape(str(sid))}" for sid in shard_ids]
        fs, _ = self._fs_path(self._data_path)
        dirs = [d for d in dirs if fs.exists(jvm.org.apache.hadoop.fs.Path(d))]
        if not dirs:
            return self.spark.createDataFrame([], self._read_schema)
        return (
            self.spark.read.schema(self._read_schema)
            .option("basePath", self._data_path)
            .parquet(*dirs)
        )

    def query(
        self,
        vector: Sequence[float],
        k: int = 4,
        n_probes: int = 1,
        where: "F.Column | str | None" = None,
    ) -> DataFrame:
        """Route → partition-pruned probe → exact cosine top-k (A8/A9/A11).

        Planning lists only the probed shard directories
        (``_scan_shards``), never the whole store.

        ``n_probes > 1`` adds lowest-margin bit-flip shards (multi-probe;
        recall knob the reference lacks). ``where`` is an optional
        metadata predicate (Column or SQL string) applied BEFORE ranking
        — filtered ANN: the predicate composes with the shard pruning in
        the same scan (pushed to parquet where the expression allows),
        so top-k ranks only rows that satisfy it. Note post-filter
        semantics of the LSH route still apply: probes are chosen by the
        query vector, so a highly selective predicate may warrant more
        probes to hold recall."""
        from vector_lake_spark.operators.ann import multiprobe_shards

        if len(vector) != self.dimension:
            raise ValueError(
                f"query vector has dimension {len(vector)}, store expects "
                f"{self.dimension}"
            )
        probes = multiprobe_shards(vector, self.hyperplanes, n_probes)
        pruned = self._scan_shards(probes).filter(F.col("shard_id").isin(probes))
        if where is not None:
            pruned = pruned.filter(
                F.expr(where) if isinstance(where, str) else where
            )
        # "vector" rides along so A10 (query_vectors) and downstream
        # re-ranking (adapter MMR) read the STORED vectors instead of
        # recomputing or re-embedding
        return topk_cosine(
            pruned, [float(x) for x in vector], k, vec_col="vector", id_col="id",
            keep_cols=("metadata", "document", "timestamp", "vector"),
        )

    def stream_ingest(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        trigger_available_now: bool = True,
    ):
        """Structured-Streaming ingest: each micro-batch is routed and
        appended exactly like ``persist`` (same shard clustering), with
        the stream checkpoint playing the role of the reference's
        ``_synced_rows`` watermark (index.py:289 — SURVEY §2.A I3).
        Returns the started StreamingQuery."""

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            routed = batch_df.withColumn(
                "vector", self._validated(F.col("vector"))
            ).withColumn(
                "shard_id", lsh_mod.shard_id_expr("`vector`", self.hyperplanes)
            )
            (
                routed.repartition("shard_id")
                .write.mode("append")
                .option("compression", "gzip")
                .partitionBy("shard_id")
                .parquet(self._data_path)
            )
            self._read_schema = None

        writer = (
            stream_df.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def query_batch(
        self,
        queries_df: DataFrame,
        k: int = 4,
        n_probes: int = 1,
        max_queries: int = 100_000,
    ) -> DataFrame:
        """Batched routed search: N queries in ONE job.

        ``queries_df``: (query_id long, qv array<double>). Queries are
        routed driver-side (a query batch is small by definition) and
        broadcast as per-shard numpy matrices; the store is scanned ONCE
        with ``mapInPandas`` doing a blocked matrix multiply per Arrow
        batch and emitting only each query's per-batch top-k. A final
        window over (queries × k × batches) rows — thousands, not
        millions — merges to the global top-k.

        Why not a pure-DataFrame join+window: LSH shards are heavily
        skewed on real data (the reference's own pathology — uniform
        vectors concentrate in a handful of shards), so an equi-join on
        shard_id produces |shard|×|queries-in-shard| pair rows (tens of
        millions at 50k×1k) and the rank shuffles all of them. The Arrow
        path keeps the pair explosion inside numpy (a ~0.1s matmul) and
        shuffles only winners. Store rows never shuffle at all."""
        import numpy as np
        import pandas as pd

        from vector_lake_spark.operators.ann import multiprobe_shards

        # "Small by definition" must be enforced, not assumed: the batch
        # is collected driver-side and broadcast as numpy matrices, so an
        # unbounded queries_df would OOM the driver (r04 VERDICT). Mirror
        # of the quadratic-baseline refusal in operators/dedup.py. The
        # limit+collect IS the guard: at most max_queries+1 rows ever
        # reach the driver, and the guard adds no extra job (a separate
        # count() cost a measurable fraction of warm-path latency).
        qrows = queries_df.limit(max_queries + 1).collect()
        if len(qrows) > max_queries:
            raise ValueError(
                f"query_batch collects the query side driver-side and the "
                f"batch has > max_queries={max_queries} rows. Use the "
                f"distributed broadcast-join path "
                f"(operators.topk.topk_cosine_batch) for large query "
                f"tables, or raise max_queries explicitly if the driver "
                f"can hold the batch."
            )
        by_shard: dict[int, tuple[list, "np.ndarray"]] = {}
        for r in qrows:
            qv = np.asarray(r["qv"], dtype=np.float64)
            if qv.shape[0] != self.dimension:
                raise ValueError(
                    f"query {r['query_id']} has dimension {qv.shape[0]}, "
                    f"store expects {self.dimension}"
                )
            for shard in multiprobe_shards(qv, self.hyperplanes, n_probes):
                ids, mats = by_shard.setdefault(shard, ([], []))
                ids.append(r["query_id"])
                mats.append(qv)
        shard_mats = {
            s: (ids, np.stack(vecs)) for s, (ids, vecs) in by_shard.items()
        }
        bc = self.spark.sparkContext.broadcast(shard_mats)
        out_schema = (
            "query_id long, id string, document string, score double"
        )

        def score_batches(batches):
            for pdf in batches:
                out_qid, out_pos, out_score = [], [], []
                for shard, grp in pdf.groupby("shard_id"):
                    entry = bc.value.get(int(shard))
                    if entry is None or len(grp) == 0:
                        continue
                    qids, qmat = entry
                    V = np.stack(grp["vector"].to_numpy())
                    vn = np.linalg.norm(V, axis=1)
                    qn = np.linalg.norm(qmat, axis=1)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        # round BEFORE selecting: rounded-score ties break
                        # on id (engine-wide determinism contract, topk.py)
                        sims = np.round((V @ qmat.T) / np.outer(vn, qn), 6)
                    n = len(grp)
                    top = min(k, n)
                    ids_arr = grp["id"].to_numpy().astype("U")
                    # positions into pdf (RangeIndex ⇒ labels == positions)
                    grp_pos = grp.index.to_numpy()
                    all_rows = np.arange(n)
                    for j, qid in enumerate(qids):
                        col = sims[:, j]
                        # O(n) candidate cut, then an exact tie-safe
                        # lexsort over only the rows at/above the k-th
                        # value — a full per-query O(n log n) sort (and a
                        # pandas frame per query) measured 40-50% of
                        # whole-query latency at 50k×1k.
                        if top < n:
                            head = np.argpartition(-col, top - 1)[:top]
                            kth = col[head].min()
                            # NaN kth (zero-norm vectors in the top set):
                            # >= comparisons go all-False — keep the full
                            # row set so NaN rows stay emittable last
                            cand = (
                                all_rows
                                if np.isnan(kth)
                                else np.flatnonzero(col >= kth)
                            )
                        else:
                            cand = all_rows
                        order = np.lexsort((ids_arr[cand], -col[cand]))
                        sel = cand[order[:top]]
                        out_qid.append(np.full(top, qid, dtype=np.int64))
                        out_pos.append(grp_pos[sel])
                        out_score.append(col[sel])
                if out_qid:
                    pos = np.concatenate(out_pos)
                    yield pd.DataFrame(
                        {
                            "query_id": np.concatenate(out_qid),
                            "id": pdf["id"].to_numpy()[pos],
                            "document": pdf["document"].to_numpy()[pos],
                            "score": np.concatenate(out_score),
                        }
                    )

        from pyspark.sql import Window

        partial = self.load().select(
            "shard_id", "id", "document", "vector"
        ).mapInPandas(score_batches, schema=out_schema)
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("id")
        )
        return (
            partial.withColumn("rn", F.row_number().over(w).cast("long"))
            .filter(F.col("rn") <= k)
        )

    def query_vectors(self, vector: Sequence[float], k: int = 4) -> list:
        """A10 parity: vectors only."""
        return [r["vector"] for r in self.query(vector, k).select("vector", "score").collect()]

    def count(self) -> int:
        """S9 parity."""
        return self.load().count()

    def warm_load(self) -> DataFrame:
        """Reference ``load_local`` parity (index.py:331-335): pin the
        store in executor cache and materialize it. Memory footprint is
        introspectable via the Spark UI storage tab / ``df.storageLevel``
        — the distributed equivalent of the reference's per-process
        ``memory_usage`` (index.py:548-568)."""
        df = self.load()
        df.cache().count()
        return df

    # -- maintenance --------------------------------------------------------

    def _fs_path(self, path_str: str):
        """Hadoop FileSystem + Path for ``path_str`` — scheme-agnostic
        (file://, hdfs://, s3a://), unlike driver-local shutil."""
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path_str)
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, p

    @contextlib.contextmanager
    def _maintenance_lock(self):
        """Single-writer lease around every stage+swap maintenance path
        (r06 verdict #5). Each swap is crash-atomic ALONE, but two
        concurrent mutators can interleave ``_swap_shards`` renames and
        silently drop one writer's shards — so the contract is enforced,
        not just documented: a ``{location}/_maintenance.lock`` file is
        created with the Hadoop FS create(overwrite=false) primitive
        (atomic-exclusive on HDFS and local FS), and a second mutator
        fails FAST with the holder's identity instead of corrupting the
        store. The lock is released on success or any exception; only a
        hard crash strands it, and the error message tells the operator
        exactly what to inspect and delete (same recovery posture as
        ``_check_no_leftover_trash``). Note s3a caveat: S3 create is not
        atomic-exclusive — on S3 run maintenance from a single scheduler
        (docs/S3.md)."""
        lock = f"{self.location}/_maintenance.lock"
        fs, p = self._fs_path(lock)
        try:
            out = fs.create(p, False)
        except Exception as exc:
            # only diagnose "another writer" when the lock file actually
            # exists — a permissions/path/transient-FS failure must stay
            # loud with its real cause, not send the operator hunting a
            # nonexistent concurrent job (r07 review)
            exists = False
            with contextlib.suppress(Exception):
                exists = bool(fs.exists(p))
            if not exists:
                raise
            held_since = "unknown"
            with contextlib.suppress(Exception):
                mtime = fs.getFileStatus(p).getModificationTime()
                held_since = time.strftime(
                    "%Y-%m-%d %H:%M:%S", time.gmtime(mtime / 1000)
                )
            raise IOError(
                f"refusing maintenance: another writer holds {lock} "
                f"(since {held_since} UTC). The store is single-writer "
                f"for upsert/compact/retention/delete. If the holder "
                f"crashed, verify no maintenance job is running, then "
                f"delete the lock file and retry."
            ) from exc
        try:
            holder = json.dumps(
                {"pid": os.getpid(), "acquired_unix": int(time.time())}
            ).encode()
            out.write(bytearray(holder))
            out.close()
            yield
        finally:
            with contextlib.suppress(Exception):
                fs.delete(p, False)

    def _swap_shards(self, rewritten: DataFrame, shard_ids: Sequence) -> None:
        """Replace each listed shard directory with its rewritten contents.

        The rewrite lands in a temp sibling first (so the source is never
        read and overwritten in the same job — a failure mid-write leaves
        the store untouched), then each shard is swapped: old dir renamed
        to a trash path under ``{location}/_trash/`` — OUTSIDE the
        ``mode('overwrite')`` temp dir, so no later maintenance run can
        clobber it — new dir renamed in, trash deleted. A crash between
        the two renames leaves that shard's only copy in the trash path,
        and the next swap REFUSES to start until it is recovered (renamed
        back) or explicitly deleted. A shard with no rewritten rows is
        simply removed (retention can empty a shard)."""
        self._read_schema = None
        tmp = f"{self.location}/_rewrite_tmp"
        trash_root = f"{self.location}/_trash"
        self._check_no_leftover_trash()
        fs, trash_root_p = self._fs_path(trash_root)
        (
            rewritten
            .write.mode("overwrite")
            .option("compression", "gzip")
            .partitionBy("shard_id")
            .parquet(tmp)
        )
        fs.mkdirs(trash_root_p)
        for sid in shard_ids:
            fs, dst = self._fs_path(f"{self._data_path}/shard_id={sid}")
            _, src = self._fs_path(f"{tmp}/shard_id={sid}")
            _, trash = self._fs_path(f"{trash_root}/shard_id={sid}")
            # Hadoop rename reports failure by returning false, not by
            # throwing (s3a especially) — a swallowed false here would
            # delete the only remaining copy below. Check every step and
            # roll the old data back if the swap-in fails.
            if fs.exists(dst) and not fs.rename(dst, trash):
                raise IOError(f"shard swap: could not move {dst} aside")
            if fs.exists(src) and not fs.rename(src, dst):
                if fs.exists(trash) and not fs.rename(trash, dst):
                    raise IOError(
                        f"shard swap failed AND rollback failed for shard "
                        f"{sid}; old data preserved at {trash}"
                    )
                raise IOError(
                    f"shard swap: could not move {src} into place for "
                    f"shard {sid}; old data restored"
                )
            fs.delete(trash, True)
        fs.delete(trash_root_p, True)
        fs, tmp_p = self._fs_path(tmp)
        fs.delete(tmp_p, True)

    def _check_no_leftover_trash(self) -> None:
        """Refuse maintenance while ``{location}/_trash`` exists: after a
        crash mid-swap it holds the ONLY copy of one or more shards, and
        it must be recovered (renamed back) or explicitly deleted by the
        operator first.  Checked at maintenance entry points too — not
        just inside ``_swap_shards`` — because a crash that trashed every
        populated shard leaves ``load()`` empty and the swap unreached."""
        trash_root = f"{self.location}/_trash"
        fs, trash_root_p = self._fs_path(trash_root)
        if not fs.exists(trash_root_p):
            return
        # A fully-EMPTY trash root is not stranded data — it's the
        # residue of a swap that aborted after mkdirs (or whose restore
        # path renamed every shard back). Refusing on it would lock out
        # ALL maintenance with a spurious data-loss warning (r03 ADVICE).
        # But ONLY the fully-empty case auto-cleans: a non-empty dir
        # without shard_id=* entries (a partially-renamed shard under an
        # unexpected name, files an in-flight swap just created) is
        # unexplained residue — deleting it would silently destroy the
        # one thing we can't account for (r04 ADVICE), so refuse and let
        # the operator look.
        statuses = fs.listStatus(trash_root_p)
        if len(statuses) == 0:
            fs.delete(trash_root_p, True)
            return
        has_shard_data = any(
            s.getPath().getName().startswith("shard_id=") for s in statuses
        )
        if has_shard_data:
            raise IOError(
                f"refusing to start a shard swap: {trash_root} holds "
                "shard data from an interrupted earlier swap (the only "
                "remaining copy of those shards). Rename its "
                "shard_id=* dirs back into the store, or delete the "
                "trash dir if the data is confirmed unwanted, then retry."
            )
        raise IOError(
            f"refusing maintenance: {trash_root} is non-empty but holds "
            "no shard_id=* entries — unrecognized residue (possibly a "
            "partially-renamed shard or another in-flight swap). "
            "Inspect and recover or delete it manually, then retry."
        )

    @_locked
    def compact(
        self,
        target_files_per_shard: int = 1,
        time_cluster: bool = False,
    ) -> None:
        """Rewrite each shard into ``target_files_per_shard`` files — the
        small-files fix for the reference's 256-tiny-segments pathology
        (SURVEY.md §7.7). Atomic per shard via temp-dir + rename swap.

        ``time_cluster=True`` instead lays every rewritten file out as a
        CONTIGUOUS time range (range-partition on (shard_id, timestamp),
        sampled bounds, one shuffle + in-partition sort — the same move
        as ``operators/layout.zorder_layout`` with time as the only
        dimension): each file's parquet footer then carries a tight
        timestamp min/max, so ``delete_older_than``'s
        ``timestamp < cutoff`` scan skips whole files/row-groups of
        young data and retention I/O tracks the EXPIRED fraction, not
        the shard size. (A hash salt here would interleave times across
        every file and leave footers full-span — measured in
        tests/test_store.py::test_compact_time_cluster_narrows_footers.)"""
        self._check_no_leftover_trash()
        df = self.load()
        present = [r["shard_id"] for r in df.select("shard_id").distinct().collect()]
        if not present:
            return
        n_out = target_files_per_shard * len(present)
        if time_cluster:
            rewritten = df.repartitionByRange(
                n_out, "shard_id", "timestamp"
            ).sortWithinPartitions("shard_id", "timestamp")
        else:
            # repartition on shard_id alone would put each shard in ONE
            # task (one file, knob ignored); an intra-shard salt splits
            # hot shards into up to target_files_per_shard files for
            # parallel reads
            salted = df.withColumn(
                "__salt",
                F.pmod(F.xxhash64("id"), F.lit(target_files_per_shard)),
            )
            rewritten = salted.repartition(n_out, "shard_id", "__salt").drop(
                "__salt"
            )
        self._swap_shards(rewritten, present)

    def delete_shards(self, shard_ids: Sequence) -> None:
        """Per-segment delete (reference S6: ``index.py:312-325`` deletes
        one bucket's file; here one shard = one partition directory).
        Scheme-agnostic Hadoop FS delete — other shards' files untouched."""
        self._read_schema = None
        for sid in shard_ids:
            fs, p = self._fs_path(f"{self._data_path}/shard_id={sid}")
            fs.delete(p, True)

    @_locked
    def delete_older_than(self, cutoff) -> int:
        """Retention delete: drop rows with ``timestamp < cutoff``.

        Only shards that actually contain expired rows are rewritten
        (partition-pruned append-only stores make this the common case:
        old rows cluster in old files); untouched shards are never
        rewritten. A shard left empty by retention is removed entirely.
        Returns the number of shards rewritten."""
        self._check_no_leftover_trash()
        df = self.load()
        cutoff_col = F.lit(cutoff).cast("timestamp")
        affected = [
            r["shard_id"]
            for r in df.filter(F.col("timestamp") < cutoff_col)
            .select("shard_id")
            .distinct()
            .collect()
        ]
        if not affected:
            return 0
        kept = (
            df.filter(F.col("shard_id").isin(list(affected)))
            .filter(F.col("timestamp") >= cutoff_col)
            .repartition("shard_id")
        )
        self._swap_shards(kept, affected)
        return len(affected)

    @_locked
    def delete_ids(self, ids: Sequence) -> int:
        """Row-level delete by id — beyond the reference's segment-only
        deletes (S6/S8): GDPR-style point removal without rewriting the
        store. Only shards that actually contain a listed id are
        rewritten (same pruned-rewrite shape as ``delete_older_than``);
        a shard emptied by the delete is removed. Returns the number of
        shards rewritten.

        At 100 TB the id list is a lookup table, not a literal: for a
        handful of ids the ``isin`` prunes cheaply; for millions, load
        them as a DataFrame and use a broadcast anti-join — this method
        accepts either (a Python sequence or a single-column DataFrame)."""
        self._check_no_leftover_trash()
        df = self.load()
        if isinstance(ids, DataFrame):
            id_df = ids.toDF("__del_id")
            hit = F.broadcast(id_df)
            marked = df.join(
                hit, df["id"] == hit["__del_id"], "left_semi"
            )
            affected = [
                r["shard_id"]
                for r in marked.select("shard_id").distinct().collect()
            ]
            if not affected:
                return 0
            kept = (
                df.filter(F.col("shard_id").isin(list(affected)))
                .join(hit, df["id"] == hit["__del_id"], "left_anti")
                .repartition("shard_id")
            )
        else:
            ids = list(ids)
            affected = [
                r["shard_id"]
                for r in df.filter(F.col("id").isin(ids))
                .select("shard_id")
                .distinct()
                .collect()
            ]
            if not affected:
                return 0
            kept = (
                df.filter(F.col("shard_id").isin(list(affected)))
                .filter(~F.col("id").isin(ids))
                .repartition("shard_id")
            )
        self._swap_shards(kept, affected)
        return len(affected)

    @_locked
    def upsert_batch(
        self,
        ids: Sequence[str],
        vectors: Sequence[Sequence[float]],
        metadata: Sequence[dict] | None = None,
        documents: Sequence[str] | None = None,
    ) -> int:
        """Replace-by-id (beyond the reference, which can only append),
        CRASH-ATOMIC per shard: the merged content of every touched
        shard — surviving old rows plus the new versions — is staged as
        one rewrite and installed by the retention path's
        ``_swap_shards`` rename swap (r05 verdict #4). There is no
        window where the old versions are gone but the new ones have
        not landed: a crash before the swap leaves the store untouched;
        a crash mid-swap parks the affected shard's only copy in
        ``_trash`` where ``_check_no_leftover_trash`` blocks further
        maintenance until an operator recovers it. Only shards holding
        an old version or receiving a new row are rewritten — no
        full-store rewrite at any scale. Returns the number of shards
        that held an old version (0 = pure insert).

        The replacement batch is validated BEFORE anything is mutated
        (``_rows_df``): ids/vectors/metadata/documents length
        mismatches, wrong vector dimensions, and duplicate ids within
        the batch each fail the call with the old versions intact."""
        ids = list(ids)
        if len(set(ids)) != len(ids):
            dupes = sorted({i for i in ids if ids.count(i) > 1})[:5]
            raise ValueError(
                f"upsert_batch: duplicate ids within the batch ({dupes}…) — "
                f"replace-by-id is ill-defined for a batch that contains "
                f"the same id twice"
            )
        ids, new_df = self._rows_df(vectors, metadata, documents, ids)
        self._check_no_leftover_trash()
        # flush any rows a prior add_batch left pending: they must be
        # durable BEFORE the replace-by-id pass so (a) they stay visible
        # after the upsert (the delete-then-append upsert's trailing
        # persist() used to flush them) and (b) a pending row whose id
        # is in this batch gets REPLACED rather than resurrected by a
        # later persist (r06 review finding)
        if self._pending:
            self.persist()
        fs, data_p = self._fs_path(self._data_path)
        if not fs.exists(data_p):
            # pure insert into an empty store: a single append write is
            # already all-or-nothing for our purposes (no old versions
            # exist that a crash could lose)
            self._pending.append(new_df)
            self.persist()
            return 0
        routed_new = new_df.withColumn(
            "shard_id", lsh_mod.shard_id_expr("`vector`", self.hyperplanes)
        )
        df = self.load()
        # a huge replacement batch would inline thousands of isin
        # literals into the plan — switch to the broadcast semi/anti
        # form delete_ids already uses (same cutoff rationale)
        if len(ids) > 1000:
            id_df = F.broadcast(
                self.spark.createDataFrame(
                    [(i,) for i in ids], "__up_id string"
                )
            )
            hit = df.join(id_df, df["id"] == id_df["__up_id"], "left_semi")
            kept_pred = None
        else:
            hit = df.filter(F.col("id").isin(ids))
            kept_pred = ~F.col("id").isin(ids)
        old_shards = {
            r["shard_id"]
            for r in hit.select("shard_id").distinct().collect()
        }
        new_shards = {
            r["shard_id"]
            for r in routed_new.select("shard_id").distinct().collect()
        }
        target = sorted(old_shards | new_shards)
        cols = [f.name for f in LAKE_SCHEMA.fields] + ["shard_id"]
        survivors = df.filter(F.col("shard_id").isin(target))
        if kept_pred is not None:
            survivors = survivors.filter(kept_pred)
        else:
            survivors = survivors.join(
                id_df, survivors["id"] == id_df["__up_id"], "left_anti"
            )
        merged = (
            survivors.select(cols)
            .unionByName(routed_new.select(cols))
            .repartition("shard_id")
        )
        self._swap_shards(merged, target)
        self._write_meta({})
        return len(old_shards)

    def delete(self) -> None:
        """S8 parity: remove the dataset (any URI scheme)."""
        self._read_schema = None
        fs, p = self._fs_path(self.location)
        fs.delete(p, True)


class SparkPartition(SparkVectorLake):
    """Reference ``Partition`` parity (index.py:592-607): user-directed
    partitioning by an explicit key instead of LSH — exactly one logical
    bucket per key value."""

    def __init__(self, spark: SparkSession, location: str, partition_key: str, dimension: int):
        super().__init__(spark, location, dimension, approx_shards=2)
        self.partition_key = partition_key

    def persist(self, **attrs) -> None:
        if not self._pending:
            return
        df = self._pending[0]
        for extra in self._pending[1:]:
            df = df.unionByName(extra)
        routed = df.withColumn("shard_id", F.lit(self.partition_key))
        (
            routed.write.mode("append")
            .option("compression", "gzip")
            .partitionBy("shard_id")
            .parquet(self._data_path)
        )
        self._pending = []
        self._read_schema = None
        self._write_meta(attrs)

    def query(self, vector: Sequence[float], k: int = 4, n_probes: int = 1) -> DataFrame:
        pruned = self._scan_shards([self.partition_key]).filter(
            F.col("shard_id") == self.partition_key
        )
        return topk_cosine(
            pruned, [float(x) for x in vector], k, vec_col="vector", id_col="id",
            keep_cols=("metadata", "document", "timestamp", "vector"),
        )


def _json_safe(v):
    """Reference S3 behavior (index.py:224-238): coerce to JSON-safe."""
    import datetime

    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_safe(x) for k, x in v.items()}
    return v
