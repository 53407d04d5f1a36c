"""Incremental materialized views over engine tables.

``CREATE MATERIALIZED VIEW mv AS SELECT <aggs> FROM t [WHERE ...]
[GROUP BY ...]`` materializes the aggregate ONCE and thereafter maintains
it incrementally: the view stores *mergeable partial-aggregate state*
(counts, DECIMAL sums, mins/maxes — never finalized values), and REFRESH
aggregates only the parquet files appended to the base table since the
last materialization, merging the delta into the stored state with one
group-keyed combine. Appending 1 GB to a 100 TB base re-aggregates 1 GB.

This is the classic incremental-view-maintenance design (same shape as
Materialize/Druid rollup segments or a Delta MERGE-based summary table):

  * State, not results: AVG is kept as (DECIMAL sum, count) so merges are
    exact and order-free; SUM is a DECIMAL(38,6) sum for the same reason;
    COUNT/MIN/MAX merge natively. Finalization happens at READ time.
  * File-level change detection: parquet files are immutable, so the set
    of data files IS the table version. New files = appends (incremental
    path); a missing previously-seen file means a rewrite happened
    (UPDATE/DELETE/compaction) → automatic full recompute, never a wrong
    answer.
  * The view definition is persisted as the dialect SQL TEXT and re-parsed
    per refresh — no pickled plans, restart-safe.
  * Every refresh writes the state to a fresh directory under
    ``_matviews/`` and commits it by saving ``mvs.json`` (commit.py): a
    kill leaves the old state or the new one, and the merge can read the
    old state while the new one is written.

Round-8 adds APPROX_COUNT_DISTINCT(col): the state is an HLL register
array (p=8 → 256 ints per group, engine-portable md5 hashing from
operators/sketch), merged by ELEMENTWISE MAX — the one distinct-count
representation that is incrementally maintainable, because exact
distinct state grows with every key seen while registers are constant.
Finalization runs the integer-scaled harmonic estimate at READ time.

Restrictions (validated at CREATE): one plain catalog table (no derived
table, VALUES, file, series, VERSION AS OF, SAMPLE, PIVOT or UNPIVOT
around it — those would be dropped, not maintained), aggregates
required (COUNT/SUM/AVG/MIN/MAX/APPROX_COUNT_DISTINCT), optional WHERE
and GROUP BY; no JOIN / HAVING / ORDER / LIMIT / DISTINCT — those belong
to queries over the view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .commit import ArtifactRegistry

_DEC = "decimal(38,6)"

# HLL parameters for APPROX_COUNT_DISTINCT state (operators/sketch math,
# fixed so every refresh of a view agrees on the register layout).
_HLL_P = 8
_HLL_M = 1 << _HLL_P            # 256 registers per group
_HLL_RHO0 = 60 - _HLL_P + 1     # rho for w == 0 (53)
_HLL_SCALE = 61 - _HLL_P        # integer harmonic-sum shift (53)


class MaterializedViews(ArtifactRegistry):
    """Registry + maintenance engine for materialized views."""

    def __init__(self, engine):
        super().__init__(engine, "mvs.json", "_matviews")

    # -- definition parsing --------------------------------------------------

    def _parse(self, select_sql: str):
        from .plans.refsql import ParseError, _Cursor, parse_select, tokenize

        cur = _Cursor(tokenize(select_sql))
        spec, _, clauses = parse_select(cur)
        if not cur.done():
            raise ParseError(f"unexpected token {cur.peek()!r} in view query")
        rel = spec.relation
        if (
            rel.kind != "table" or rel.version is not None or spec.joins
            or spec.sample or spec.using_sample or spec.pivot or spec.unpivot
        ):
            # the view aggregates the base table's files; anything around
            # the table would be dropped, not maintained
            raise ParseError(
                "materialized views read one plain base table (no derived "
                "table, VALUES, file, series, JOIN, VERSION AS OF, SAMPLE, "
                "PIVOT or UNPIVOT)"
            )
        if not spec.aggregates:
            raise ParseError(
                "materialized views require aggregates (COUNT/SUM/AVG/MIN/MAX"
                "/APPROX_COUNT_DISTINCT)"
            )
        # Normalize + validate aggregate forms. APPROX_COUNT_DISTINCT(c)
        # arrives as a verbatim "_expr" capture — rewrite it to the
        # internal hll_distinct fn; every other _expr form (and any
        # unknown fn) is REJECTED rather than silently dropped from the
        # state (the pre-round-8 hazard).
        normalized = []
        for fn, col, alias in spec.aggregates:
            if fn == "_expr":
                text = col.strip()
                low = text.lower()
                if low.startswith("approx_count_distinct (") and text.endswith(")"):
                    inner = text[len("approx_count_distinct ("):-1].strip()
                    if not inner or " " in inner or any(
                        ch in inner for ch in "(),"
                    ):
                        raise ParseError(
                            "materialized-view APPROX_COUNT_DISTINCT takes "
                            "one plain column"
                        )
                    normalized.append(("hll_distinct", inner, alias))
                    continue
                raise ParseError(
                    f"materialized views do not support the aggregate "
                    f"{text.split(' ', 1)[0]!r} (COUNT/SUM/AVG/MIN/MAX/"
                    "APPROX_COUNT_DISTINCT only)"
                )
            if fn not in ("count", "sum", "avg", "min", "max"):
                raise ParseError(
                    f"materialized views do not support the aggregate {fn!r}"
                )
            normalized.append((fn, col, alias))
        spec.aggregates = normalized
        from .operators.query import is_value_expr

        bad_group = [g for g in clauses.get("group_by", []) if is_value_expr(g)]
        if bad_group:
            raise ParseError(
                f"materialized views group by plain columns only (got "
                f"{bad_group[0]!r}); materialize the expression as a CTAS "
                "column first"
            )
        banned = [
            k for k in ("having", "order_by", "limit", "offset") if k in clauses
        ]
        if banned or spec.distinct:
            raise ParseError(
                "materialized views support WHERE and GROUP BY only "
                f"(got {', '.join(banned) or 'DISTINCT'}); apply "
                "HAVING/ORDER/LIMIT to queries over the view"
            )
        return spec, clauses

    # -- partial-aggregate state ---------------------------------------------

    @staticmethod
    def _state_aggs(spec) -> list:
        from .operators.query import arg_col

        out = []
        for k, (fn, col, _alias) in enumerate(spec.aggregates):
            if fn == "count":
                src = F.lit(1) if col == "*" else arg_col(col)
                out.append(F.count(src).alias(f"s{k}_cnt"))
            elif fn == "sum":
                out.append(F.sum(arg_col(col).cast(_DEC)).alias(f"s{k}_sum"))
            elif fn == "avg":
                out += [
                    F.sum(arg_col(col).cast(_DEC)).alias(f"s{k}_sum"),
                    F.count(arg_col(col)).alias(f"s{k}_cnt"),
                ]
            elif fn == "min":
                out.append(F.min(arg_col(col)).alias(f"s{k}_min"))
            elif fn == "max":
                out.append(F.max(arg_col(col)).alias(f"s{k}_max"))
            elif fn == "hll_distinct":
                # Registers as a fixed-length array: index = bucket,
                # value = max rho (NULL = never-hit bucket). Inputs are
                # the pre-projected (__hll{k}_bucket, __hll{k}_rho) row
                # columns (see _compute_state) so the md5 derivation runs
                # once per row, not once per register.
                out.append(
                    F.array(*[
                        F.max(
                            F.when(
                                F.col(f"__hll{k}_bucket") == i,
                                F.col(f"__hll{k}_rho"),
                            )
                        )
                        for i in range(_HLL_M)
                    ]).alias(f"s{k}_regs")
                )
        return out

    @staticmethod
    def _merge_aggs(spec) -> list:
        out = []
        for k, (fn, _col, _alias) in enumerate(spec.aggregates):
            if fn == "count":
                out.append(F.sum(f"s{k}_cnt").alias(f"s{k}_cnt"))
            elif fn == "sum":
                out.append(F.sum(f"s{k}_sum").cast(_DEC).alias(f"s{k}_sum"))
            elif fn == "avg":
                out += [
                    F.sum(f"s{k}_sum").cast(_DEC).alias(f"s{k}_sum"),
                    F.sum(f"s{k}_cnt").alias(f"s{k}_cnt"),
                ]
            elif fn == "min":
                out.append(F.min(f"s{k}_min").alias(f"s{k}_min"))
            elif fn == "max":
                out.append(F.max(f"s{k}_max").alias(f"s{k}_max"))
            elif fn == "hll_distinct":
                # Elementwise MAX across state rows — the HLL merge.
                # MAX ignores NULLs, so never-hit buckets stay NULL.
                out.append(
                    F.array(*[
                        F.max(F.element_at(F.col(f"s{k}_regs"), i + 1))
                        for i in range(_HLL_M)
                    ]).alias(f"s{k}_regs")
                )
        return out

    def _compute_state(self, df: DataFrame, spec, clauses) -> DataFrame:
        from .operators.query import arg_col
        from .operators.sketch import hash60

        if "where" in clauses:
            df = df.filter(clauses["where"])
        # Pre-project the HLL (bucket, rho) per row so the state
        # aggregation's _HLL_M conditional MAXes reference two plain
        # columns instead of re-deriving the hash per register.
        for k, (fn, col, _alias) in enumerate(spec.aggregates):
            if fn != "hll_distinct":
                continue
            h = hash60(arg_col(col).cast("string"))
            bucket = F.pmod(h, F.lit(_HLL_M))
            # Integer div via exact double division of a multiple of
            # _HLL_M (quotient <= 2^52, double-exact).
            w = ((h - bucket) / F.lit(_HLL_M)).cast("long")
            df = df.withColumn(
                f"__hll{k}_bucket", bucket.cast("int")
            ).withColumn(
                f"__hll{k}_rho",
                (
                    F.lit(_HLL_RHO0)
                    - F.when(w == 0, F.lit(0)).otherwise(F.length(F.bin(w)))
                ).cast("int"),
            )
        group = clauses.get("group_by", [])
        return df.groupBy(*group).agg(*self._state_aggs(spec))

    def _finalize(self, state: DataFrame, spec, clauses) -> DataFrame:
        group = clauses.get("group_by", [])
        cols = [F.col(g) for g in group]
        for k, (fn, col, alias) in enumerate(spec.aggregates):
            # Output names follow the reference defaults (count/sum_c/...)
            # exactly as a direct dialect query would produce them
            # (operators.query.agg_default_name).
            name = alias or (
                "count"
                if (fn == "count" and col == "*")
                else f"{fn}_{col.rsplit('.', 1)[-1]}"
            )
            if fn == "hll_distinct":
                # The sketch estimate (operators/sketch.hll_estimate math
                # at p=8), computed over the register array at read time:
                # SQL lambda over the state column — JVM-side, no UDF.
                regs = f"s{k}_regs"
                v_obs = F.expr(f"size(filter({regs}, r -> r IS NOT NULL))")
                zs = F.expr(
                    f"aggregate(filter({regs}, r -> r IS NOT NULL), "
                    f"CAST(0 AS BIGINT), (acc, r) -> acc + "
                    f"shiftleft(CAST(1 AS BIGINT), {_HLL_SCALE} - r))"
                )
                v_zero = (F.lit(_HLL_M) - v_obs).cast("long")
                zst = zs + v_zero * F.lit(1 << _HLL_SCALE)
                z = zst.cast("double") / F.lit(float(1 << _HLL_SCALE))
                alpha = 0.7213 / (1 + 1.079 / _HLL_M)
                e_raw = F.lit(alpha * float(_HLL_M) * float(_HLL_M)) / z
                est = F.when(
                    (e_raw <= F.lit(2.5 * _HLL_M)) & (v_zero > 0),
                    F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / v_zero),
                ).otherwise(e_raw)
                cols.append((F.round(est, 2) + F.lit(0.0)).alias(name))
                continue
            if fn == "count":
                cols.append(F.col(f"s{k}_cnt").alias(name))
            elif fn == "sum":
                cols.append(F.col(f"s{k}_sum").cast("double").alias(name))
            elif fn == "avg":
                cols.append(
                    (F.col(f"s{k}_sum").cast("double") / F.col(f"s{k}_cnt"))
                    .alias(name)
                )
            elif fn == "min":
                cols.append(F.col(f"s{k}_min").alias(name))
            elif fn == "max":
                cols.append(F.col(f"s{k}_max").alias(name))
        return state.select(*cols)

    # -- lifecycle -----------------------------------------------------------

    def _base_files(self, table: str) -> list[str]:
        return sorted(self.engine.table(table).inputFiles())

    def create(self, name: str, select_sql: str) -> None:
        meta = self._load()
        if name in meta:
            raise ValueError(f"materialized view '{name}' already exists")
        if name in self.engine.catalog:
            raise ValueError(f"'{name}' is already a table")
        if name in self.engine.views:
            raise ValueError(f"'{name}' is already a (plain) view")
        spec, clauses = self._parse(select_sql)
        base = spec.relation.source
        base_df = self.engine.table(base)  # raises on unknown table
        state = self._compute_state(base_df, spec, clauses)
        meta[name] = {
            "sql": select_sql,
            "base": base,
            "files": self._base_files(base),
        }
        # State frames are tiny relative to the base; one file per
        # group-partition is fine.
        self._commit_artifact(meta, name, state.write.parquet)

    def refresh(self, name: str) -> str:
        meta = self._load()
        if name not in meta:
            raise KeyError(f"no materialized view '{name}'")
        entry = meta[name]
        spec, clauses = self._parse(entry["sql"])
        base = spec.relation.source
        base_meta = self.engine.catalog.get(base)
        current = self._base_files(base)
        seen = set(entry["files"])
        cur_set = set(current)
        if seen <= cur_set:
            new = sorted(cur_set - seen)
            if not new:
                return f"refreshed '{name}': no new data"
            paths = [p.removeprefix("file:") for p in new]
            delta_df = self.engine.spark.read.schema(base_meta.schema).parquet(
                *paths
            )
            delta = self._compute_state(delta_df, spec, clauses)
            group = clauses.get("group_by", [])
            # Reads the committed state, which stays until the new one
            # commits.
            state = (
                self.engine.spark.read.parquet(entry["path"])
                .unionByName(delta)
                .groupBy(*group)
                .agg(*self._merge_aggs(spec))
            )
            mode = f"incremental (+{len(new)} file(s))"
        else:
            # A previously-seen file vanished: the base was rewritten
            # (UPDATE/DELETE/compaction) — partials can't be subtracted
            # safely, so recompute from scratch.
            state = self._compute_state(
                self.engine.table(base), spec, clauses
            )
            mode = "full recompute (base was rewritten)"
        entry["files"] = self._base_files(base)
        self._commit_artifact(meta, name, state.write.parquet)
        return f"refreshed '{name}': {mode}"

    def read(self, name: str) -> DataFrame:
        meta = self._load()
        if name not in meta:
            raise KeyError(f"no materialized view '{name}'")
        spec, clauses = self._parse(meta[name]["sql"])
        state = self.engine.spark.read.parquet(meta[name]["path"])
        return self._finalize(state, spec, clauses)

    def drop(self, name: str) -> None:
        meta = self._load()
        if name not in meta:
            raise KeyError(f"no materialized view '{name}'")
        self._drop(meta, name)
