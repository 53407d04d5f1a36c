"""Persistent vector (IVF) indexes — ANN index artifacts through the
catalog, the same registry shape as materialized views (matview.py).

An index is two artifacts under the engine root:

* the corpus parquet re-written PARTITIONED BY ``list_id`` (the inverted
  lists — ``operators/similarity.ivf_build``), so a probe is a
  partition-pruned scan of ``n_probe`` directories, not a corpus pass;
* the coarse quantizer's centroids, stored in the registry JSON (they ARE
  the index metadata: n_centroids × dim doubles, corpus-size independent).

Every build or refresh writes the inverted lists to a fresh directory
under ``_vector_indexes/`` and commits it by saving
``vector_indexes.json`` (commit.py); the replaced lists are deleted after
the save, so a failed or killed rebuild leaves the old index searchable.

``search`` ranks centroids driver-side from the persisted quantizer and
reads only the probed lists (``ivf_probe_indexed`` — the PartitionFilter
is plan-asserted in tests/test_plans.py). ``refresh`` re-assigns the
CURRENT table against the EXISTING quantizer (one scan + write — the
standard serving posture: the quantizer is model state, retrained on
drift, not on every append); pass ``retrain=True`` to retrain it.

No reference equivalent (the reference has no vectors at all); the shape
follows FAISS's build-once/probe-many IVF contract re-expressed as Spark
partitioned storage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .commit import ArtifactRegistry
from .operators.util import lit_double_array


class VectorIndexes(ArtifactRegistry):
    """Registry + lifecycle for persistent IVF indexes."""

    def __init__(self, engine):
        super().__init__(engine, "vector_indexes.json", "_vector_indexes")

    def _get(self, name: str) -> dict:
        meta = self._load()
        if name not in meta:
            raise ValueError(f"no such vector index: {name!r}")
        return meta[name]

    # -- lifecycle -----------------------------------------------------------

    def create(
        self,
        name: str,
        table: str,
        id_col: str,
        vec_col: str,
        n_centroids: int = 16,
        train_limit: int = 512,
        seed: int = 42,
        pq_m: int | None = None,
        pq_k: int = 32,
        dim: int | None = None,
        n_assign: int = 1,
    ) -> None:
        """Build and register the index. ``pq_m`` additionally stores
        residual PQ codes (``pq_m`` int codes per vector — 16 bytes/vector
        at the default m=16) as a column of the partitioned index parquet,
        and the residual codebooks in the registry — the full FAISS-IVFPQ
        serving artifact: an ADC search then reads m bytes per candidate
        instead of dim·4 (see search(mode='adc')). ``n_assign`` > 1 spills
        each vector to its n nearest lists at build — multi-assignment,
        the standard lever when partial-probe recall is IVF-pruning-bound
        — at n_assign× index storage; searches dedupe the spilled copies
        automatically."""
        meta = self._load()
        if name in meta:
            raise ValueError(f"vector index {name!r} already exists")
        meta[name] = {
            "table": table,
            "id_col": id_col,
            "vec_col": vec_col,
            "n_centroids": n_centroids,
            "train_limit": train_limit,
            "seed": seed,
            "pq_m": pq_m,
            "pq_k": pq_k,
            "n_assign": n_assign,
        }
        self._commit_artifact(
            meta, name, lambda path: self._build(meta[name], path, dim)
        )

    def _build(self, m: dict, path: str, dim: int | None = None) -> None:
        """Train the quantizer (plus, with ``pq_m``, the residual
        codebooks) on the table's current rows, write the inverted lists
        to ``path`` and store the trained model in ``m``."""
        from pyspark.sql import functions as F

        from .operators import similarity

        table, id_col, vec_col = m["table"], m["id_col"], m["vec_col"]
        df = self.engine.table(table)
        for c in (id_col, vec_col):
            if c not in df.columns:
                raise ValueError(
                    f"table {table!r} has no column {c!r} "
                    f"(columns: {df.columns})"
                )
        codebooks = None
        if m["pq_m"] is None:
            centroids = similarity.ivf_build(
                df, id_col, vec_col, path,
                n_centroids=m["n_centroids"], train_limit=m["train_limit"],
                seed=m["seed"], n_assign=m["n_assign"],
            )
        else:
            if dim is None:
                dim = len(df.select(vec_col).first()[0])
            centroids = similarity._train_centroids(
                df, id_col, vec_col, m["train_limit"], m["n_centroids"], 8,
                m["seed"],
            )
            codebooks = similarity.pq_train(
                df, id_col, vec_col, dim, m=m["pq_m"], k_codes=m["pq_k"],
                seed=m["seed"], centroids=centroids,
            )
            # Each spilled copy encodes the residual against ITS OWN
            # list's centroid, so ADC stays consistent per list.
            listed = similarity._assign_lists(
                df, id_col, vec_col, centroids, m["n_assign"]
            )
            listed = listed.withColumn(
                "pq",
                similarity._pq_encode_residual_udf(codebooks, centroids)(
                    F.col(vec_col).cast("array<double>"), F.col("list_id")
                ),
            )
            listed.write.partitionBy("list_id").parquet(path)
        m["centroids"] = [[float(x) for x in c] for c in centroids]
        m["codebooks"] = (
            None
            if codebooks is None
            else [[[float(x) for x in row] for row in cb] for cb in codebooks]
        )

    def refresh(self, name: str, retrain: bool = False) -> str:
        """Rebuild the inverted lists from the table's CURRENT rows.

        Default keeps the existing quantizer (one assignment scan + one
        partitioned write; list membership of unchanged rows is stable).
        ``retrain=True`` re-trains the quantizer first — the drift lever,
        which may move any vector to a new list. Either way the new lists
        commit only once fully written: a failed rebuild (base table or
        column dropped, table emptied) leaves the old index searchable."""
        from pyspark.sql import functions as F

        from .operators import similarity

        self._get(name)
        meta = self._load()
        m = meta[name]
        if retrain:
            self._commit_artifact(meta, name, lambda path: self._build(m, path))
            return (
                f"retrained + rebuilt {name!r} ({m['n_centroids']} lists"
                + (f", PQ m={m['pq_m']}" if m.get("pq_m") else "")
                + ")"
            )

        def write(path: str) -> None:
            listed = similarity._assign_lists(
                self.engine.table(m["table"]), m["id_col"], m["vec_col"],
                m["centroids"], m.get("n_assign", 1),
            )
            if m.get("codebooks"):
                # PQ index: re-encode against the STORED codebooks — model
                # state stays fixed, only the codes/lists refresh.
                listed = listed.withColumn(
                    "pq",
                    similarity._pq_encode_residual_udf(
                        m["codebooks"], m["centroids"]
                    )(
                        F.col(m["vec_col"]).cast("array<double>"),
                        F.col("list_id"),
                    ),
                )
            listed.write.partitionBy("list_id").parquet(path)

        self._commit_artifact(meta, name, write)
        return f"rebuilt {name!r} against the existing quantizer"

    def drop(self, name: str) -> None:
        self._get(name)
        self._drop(self._load(), name)

    # -- query ---------------------------------------------------------------

    def search(
        self,
        name: str,
        query_vec: list[float],
        k: int = 10,
        n_probe: int = 4,
        mode: str = "exact",
        rescore: int = 8,
    ) -> DataFrame:
        """Query the index. ``mode='exact'``: partition-pruned scan of the
        probed lists + exact cosine (ivf_probe_indexed). ``mode='adc'``
        (round-9, requires a PQ-coded index): score candidates from their
        persisted m-byte residual codes via plan-literal ADC table lookups
        + the per-list q·c constant — the scan reads CODES, not vectors —
        then exact-rescore the best ``rescore·k`` (reading only those
        vectors). The FAISS-IVFPQ query path against the stored artifact."""
        import numpy as np

        from pyspark.sql import functions as F

        from .operators import similarity
        from .operators.similarity import cosine

        m = self._get(name)
        q = [float(x) for x in query_vec]
        if mode == "exact":
            return similarity.ivf_probe_indexed(
                self.engine.spark,
                m["path"],
                m["centroids"],
                m["id_col"],
                m["vec_col"],
                q,
                k=k,
                n_probe=n_probe,
                dedup=m.get("n_assign", 1) > 1,
            )
        if mode != "adc":
            raise ValueError(f"search mode must be 'exact' or 'adc', got {mode!r}")
        if not m.get("codebooks"):
            raise ValueError(
                f"vector index {name!r} has no PQ codes — create it with "
                "pq_m (CREATE VECTOR INDEX ... PQ m [k])"
            )
        C = np.asarray(m["centroids"], dtype="float64")
        qv = np.asarray(q, dtype="float64")
        qn = float(np.linalg.norm(qv))
        if qn == 0.0:
            raise ValueError("query vector has zero norm")
        qv = qv / qn
        dots = C @ qv
        probes = [
            i + 1
            for i in sorted(range(len(C)), key=lambda i: (-dots[i], i))[:n_probe]
        ]
        sub_d = len(m["codebooks"][0][0])
        tables = [
            [float(qv[j * sub_d:(j + 1) * sub_d] @ np.asarray(c)) for c in cb]
            for j, cb in enumerate(m["codebooks"])
        ]
        qc = [float(c @ qv) for c in C]
        cand = self.engine.spark.read.parquet(m["path"]).filter(
            F.col("list_id").isin(probes)
        )
        adc = None
        for j, tab in enumerate(tables):
            lookup = F.element_at(
                lit_double_array(tab),
                F.element_at(F.col("pq"), j + 1) + 1,
            )
            adc = lookup if adc is None else (adc + lookup)
        adc = adc + F.element_at(
            lit_double_array(qc), F.col("list_id").cast("int")
        )
        top = cand.select(
            F.col(m["id_col"]), F.col(m["vec_col"]), adc.alias("adc")
        )
        if m.get("n_assign", 1) > 1:
            # Multi-assigned indexes carry each vector in up to n_assign
            # probed lists with DIFFERENT per-list ADC scores (the
            # residual is list-relative); keep one copy per id — the
            # best-ADC one — so spilled copies don't crowd the rescore
            # budget. The exact-rescore tail uses the full vector, which
            # is identical across copies.
            from pyspark.sql import Window as W

            w = W.partitionBy(m["id_col"]).orderBy(F.col("adc").desc())
            top = (
                top.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        top = top.orderBy(F.col("adc").desc(), F.col(m["id_col"])).limit(
            rescore * k
        )
        qcol = lit_double_array(q)
        return (
            top.select(
                F.col(m["id_col"]),
                F.round(
                    cosine(F.col(m["vec_col"]).cast("array<double>"), qcol), 6
                ).alias("score"),
            )
            .orderBy(F.col("score").desc(), F.col(m["id_col"]))
            .limit(k)
        )
