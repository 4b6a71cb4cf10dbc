"""Deterministic sampling / corpus-mixing operators for training-data
pipelines.

All operators here gate rows on a *content hash* (md5 of the row key + a
seed), never on an RNG: the sample is a pure function of (key, seed), so it
is reproducible across engines (identical in DuckDB — the oracle SQL uses
the same md5 gate), across cluster sizes, across partitionings, and across
reruns — properties Bernoulli ``df.sample`` cannot give. At 100 TB the
gate is a codegen'd filter on the scan (no shuffle, no state); the hash
costs one md5 per row.

Gate construction: take the first 12 hex chars of
``md5(concat(key, ':', seed))`` and compare lexicographically against the
threshold ``hex(floor(fraction * 16^12))``. Lowercase-hex string ordering
equals numeric ordering (both engines compare byte-wise), and 16^-12 rate
granularity (~4e-15) is far below any sampling tolerance.

- ``DeterministicSample`` — uniform keyed sample at ``fraction``.
- ``StratifiedSample`` — per-stratum fractions (e.g. per ``source`` /
  ``lang`` quality-tier rates), one CASE-gated filter, no shuffle.
- ``WeightedMixture`` — corpus mixing with weights that may EXCEED 1
  (epoch-style oversampling: weight 2.5 = every row twice + a 0.5 keyed
  sample of a third copy). Replication via ``explode(sequence(...))``
  (rows stay executor-local; no shuffle), each copy re-hashed with its
  copy index so the fractional copy is an independent sample.
- ``EpochShuffle`` — deterministic global reorder for training epochs:
  ``shuffle_pos`` = rank in md5-order. A global sort (range-partitioned
  exchange in Spark — parallel, but a full shuffle by nature); at 100 TB
  prefer writing the sort output sharded once per epoch seed.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from warp_pipes_spark.core.pipe import Pipe

_HEX_DIGITS = 12
_HEX_SPACE = 16 ** _HEX_DIGITS


def _threshold_hex(fraction: float) -> str:
    """Lowercase zero-padded hex threshold for a [0,1] fraction. For
    fraction >= 1 the threshold must exceed EVERY 12-hex-char gate — hex
    ``10^12`` would be 13 chars and lexicographically compare by its first
    char ('1' < '2'..'f'), silently dropping ~15/16 of rows — so a 'g'
    sentinel (greater than all of [0-9a-f]) is used instead."""
    f = min(max(float(fraction), 0.0), 1.0)
    if f >= 1.0:
        return "g"
    return format(int(f * _HEX_SPACE), "0" + str(_HEX_DIGITS) + "x")


def _gate_col(key: Column, seed: int, salt: Optional[Column] = None) -> Column:
    """First 12 md5 hex chars of ``key:seed[:salt]`` (Spark side).
    NULL keys yield a NULL gate (``F.concat`` propagates NULL, matching the
    SQL ``||``), so a NULL-keyed row is dropped by every gate comparison in
    BOTH engines — ``concat_ws`` would instead silently hash the row into
    the sample on the Spark side only."""
    parts = [key.cast("string"), F.lit(f":{seed}")]
    if salt is not None:
        parts.extend([F.lit(":"), salt.cast("string")])
    return F.substring(F.md5(F.concat(*parts)), 1, _HEX_DIGITS)


def _gate_sql(key: str, seed: int, salt: Optional[str] = None) -> str:
    """The identical gate in ANSI/DuckDB SQL (NULL keys propagate through
    ``||`` to a NULL gate, same as the Spark side)."""
    parts = [f"CAST({key} AS VARCHAR)", f"':{seed}'"]
    if salt is not None:
        parts.append(f"':' || CAST({salt} AS VARCHAR)")
    return f"substring(md5({' || '.join(parts)}), 1, {_HEX_DIGITS})"


class DeterministicSample(Pipe):
    """Uniform keyed sample: keep rows whose content-hash gate falls below
    ``fraction``. Reproducible across engines/partitionings/reruns (see
    module docstring); the filter is a pure scan-level predicate.

    Replaces RNG paths of the reference's subset utility
    (``warp_pipes/support/datasets_utils.py:22-62``) where cross-run
    determinism matters more than statistical independence per call."""

    def __init__(self, fraction: float, key_col: str = "doc_id", seed: int = 0, **kwargs):
        if not 0.0 <= fraction <= 1.0:
            raise ValueError(f"fraction must be in [0,1], got {fraction}")
        super().__init__(**kwargs)
        self.fraction = fraction
        self.key_col = key_col
        self.seed = seed

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        gate = _gate_col(F.col(self.key_col), self.seed)
        return df.filter(gate < F.lit(_threshold_hex(self.fraction)))


class StratifiedSample(Pipe):
    """Per-stratum keyed sampling: ``fractions`` maps stratum values (of
    ``stratum_col``) to keep-rates; strata not listed get ``default``.
    One CASE-gated filter — no shuffle, no per-stratum scans, unlike
    ``df.stat.sampleBy`` which is also RNG-based and thus not reproducible
    across engines."""

    def __init__(
        self,
        fractions: Dict[str, float],
        stratum_col: str = "source",
        key_col: str = "doc_id",
        seed: int = 0,
        default: float = 0.0,
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.fractions = dict(fractions)
        self.stratum_col = stratum_col
        self.key_col = key_col
        self.seed = seed
        self.default = default

    def _threshold(self) -> Column:
        expr: Optional[Column] = None
        col = F.col(self.stratum_col)
        for value, frac in sorted(self.fractions.items()):
            cond = col == F.lit(value)
            branch = F.lit(_threshold_hex(frac))
            expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
        if expr is None:
            # no explicit strata: uniform sample at the default rate
            return F.lit(_threshold_hex(self.default))
        return expr.otherwise(F.lit(_threshold_hex(self.default)))

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        gate = _gate_col(F.col(self.key_col), self.seed)
        return df.filter(gate < self._threshold())


def _fan_out_by_weight(df: DataFrame, key_col: str, seed: int) -> DataFrame:
    """Shared mixture fan-out: rows carrying ``__w`` emit floor(__w) full
    copies plus an independent frac(__w) keyed sample of one more copy.
    Replication is ``explode(sequence(...))`` — executor-local row fan-out,
    no shuffle; the per-copy gate re-hashes with the copy index so
    fractional copies are independent samples."""
    out = (
        df.filter(F.col("__w") > 0)
        .withColumn(
            "copy_idx",
            F.explode(F.sequence(F.lit(0), F.ceil(F.col("__w")).cast("int") - 1)),
        )
    )
    # full copies always pass; the LAST copy passes at rate frac(w)
    # (when w is integral, frac = 0 and ceil adds no extra copy)
    frac = F.col("__w") - F.floor(F.col("__w"))
    is_partial = F.col("copy_idx") >= F.floor(F.col("__w"))
    gate = _gate_col(F.col(key_col), seed, salt=F.col("copy_idx"))
    # threshold hex for an arbitrary per-row fraction, computed in-plan:
    # lpad(hex(floor(frac * 16^12))) — identical formula to _threshold_hex
    thr = F.lpad(
        F.lower(F.hex(F.floor(frac * F.lit(float(_HEX_SPACE))).cast("long"))),
        _HEX_DIGITS,
        "0",
    )
    return out.filter(~is_partial | (gate < thr)).drop("__w")


class WeightedMixture(Pipe):
    """Corpus mixing with per-stratum weights that may exceed 1 —
    the epoch-oversampling primitive of LLM pretraining data recipes
    (e.g. wiki x2.5, web x0.3): weight w emits floor(w) full copies of
    every row plus an independent frac(w) keyed sample of one more copy.

    Replication is ``explode(sequence(0, n_copies-1))`` — executor-local
    row fan-out, no shuffle; the per-copy gate re-hashes with the copy
    index so fractional copies are independent samples. Output carries
    ``copy_idx`` so downstream epoch shuffles can separate copies."""

    def __init__(
        self,
        weights: Dict[str, float],
        stratum_col: str = "source",
        key_col: str = "doc_id",
        seed: int = 0,
        default: float = 1.0,
        **kwargs,
    ):
        if any(w < 0 for w in weights.values()) or default < 0:
            raise ValueError("mixture weights must be >= 0")
        super().__init__(**kwargs)
        self.weights = dict(weights)
        self.stratum_col = stratum_col
        self.key_col = key_col
        self.seed = seed
        self.default = default

    def _weight(self) -> Column:
        expr: Optional[Column] = None
        col = F.col(self.stratum_col)
        for value, w in sorted(self.weights.items()):
            branch = F.lit(float(w))
            cond = col == F.lit(value)
            expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
        if expr is None:
            return F.lit(float(self.default))
        return expr.otherwise(F.lit(float(self.default)))

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        return _fan_out_by_weight(
            df.withColumn("__w", self._weight()), self.key_col, self.seed
        )


class TemperatureMixture(Pipe):
    """Temperature-scaled corpus mixing (the multilingual/multi-source
    rebalancing recipe, e.g. mBERT/XLM-R exponent-smoothed sampling):
    target composition p_s ∝ n_s^T flattens the source distribution as
    T -> 0; each source's mixture weight is w_s = p_s * N / n_s (copies
    per row so the output totals ~N rows at the target composition), then
    the shared keyed fan-out emits floor/frac copies exactly like
    :class:`WeightedMixture` — but with weights DERIVED FROM CORPUS COUNTS
    in-plan (a source-sized aggregate broadcast back), not a static dict.

    w_s rounds through DECIMAL(18,6) before the fan-out so the pow()
    doubles agree across engines at every downstream decision point; the
    computed weight is emitted as ``mix_weight`` for auditability."""

    def __init__(
        self,
        temperature: float = 0.7,
        stratum_col: str = "source",
        key_col: str = "doc_id",
        seed: int = 0,
        **kwargs,
    ):
        if not 0 < temperature <= 1:
            raise ValueError(f"temperature must be in (0, 1], got {temperature}")
        super().__init__(**kwargs)
        self.temperature = temperature
        self.stratum_col = stratum_col
        self.key_col = key_col
        self.seed = seed

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        s = self.stratum_col
        stats = df.groupBy(s).agg(F.count(F.lit(1)).alias("__n"))
        # p_s = n_s^T / sum_t n_t^T ; w_s = p_s * N / n_s
        stats = stats.withColumn("__pw", F.pow(F.col("__n").cast("double"), F.lit(self.temperature)))
        tot = stats.agg(
            F.sum("__pw").alias("__z"), F.sum("__n").alias("__tot")
        )
        weights = stats.crossJoin(F.broadcast(tot)).select(
            s,
            ((F.col("__pw") / F.col("__z")) * F.col("__tot") / F.col("__n"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("mix_weight"),
        )
        joined = df.join(F.broadcast(weights), s).withColumn(
            "__w", F.col("mix_weight")
        )
        return _fan_out_by_weight(joined, self.key_col, self.seed)


def temperature_mixture_sql(
    table: str,
    temperature: float = 0.7,
    stratum: str = "source",
    key: str = "doc_id",
    seed: int = 0,
    columns: str = "*",
) -> str:
    """DuckDB oracle for :class:`TemperatureMixture` — identical weight
    derivation (DECIMAL-rounded) and keyed fan-out."""
    gate = _gate_sql(key, seed, salt="copy_idx")
    return f"""
WITH stats AS (
  SELECT {stratum}, COUNT(*) AS n, pow(COUNT(*), {temperature}) AS pw
  FROM {table} GROUP BY 1
), tot AS (
  SELECT SUM(pw) AS z, SUM(n) AS ntot FROM stats
), weights AS (
  SELECT {stratum},
         CAST(CAST((pw / z) * ntot / n AS DECIMAL(18,6)) AS DOUBLE) AS mix_weight
  FROM stats CROSS JOIN tot
), weighted AS (
  SELECT t.*, w.mix_weight, w.mix_weight AS __w
  FROM {table} t JOIN weights w USING ({stratum})
), fanned AS (
  SELECT weighted.*, gs.copy_idx
  FROM weighted, LATERAL (
    SELECT unnest(range(0, CAST(ceil(__w) AS BIGINT))) AS copy_idx
  ) gs
  WHERE __w > 0
)
SELECT {columns}, mix_weight, copy_idx FROM fanned
WHERE copy_idx < floor(__w)
   OR {gate} < lpad(lower(hex(CAST(floor((__w - floor(__w)) * {float(_HEX_SPACE)}) AS BIGINT))), {_HEX_DIGITS}, '0')
"""


class EpochShuffle(Pipe):
    """Deterministic global training-order shuffle: ``shuffle_pos`` =
    row_number in md5(key:seed) order. Different seeds give independent
    epoch orders; the same seed always gives the same order, on any
    engine. Ties on the 12-hex gate are broken by the key itself so the
    order is total.

    A bare ``row_number() OVER (ORDER BY ...)`` would collapse to ONE
    partition; instead the global rank is computed distributed: range-
    partition on the gate (parallel sort), rank locally per partition,
    then add per-partition offsets via a broadcast join against the tiny
    partition-counts table (#partitions rows). Same shape as RDD
    ``zipWithIndex``, kept in the DataFrame API."""

    def __init__(
        self, key_col: str = "doc_id", seed: int = 0,
        num_partitions: Optional[int] = None, **kwargs,
    ):
        super().__init__(**kwargs)
        self.key_col = key_col
        self.seed = seed
        self.num_partitions = num_partitions

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        from pyspark.sql import Window

        gate = _gate_col(F.col(self.key_col), self.seed).alias("__gate")
        n = self.num_partitions or df.sparkSession.sparkContext.defaultParallelism
        parted = (
            df.select("*", gate)
            .repartitionByRange(n, F.col("__gate"), F.col(self.key_col))
            .withColumn("__pid", F.spark_partition_id())
        )
        local = F.row_number().over(
            Window.partitionBy("__pid").orderBy("__gate", self.key_col)
        )
        ranked = parted.withColumn("__local", local)
        # offsets: one row per partition — cumulative counts in pid order
        # (a single-partition window over ~#partitions rows, not row data)
        counts = ranked.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
        offsets = counts.select(
            "__pid",
            (
                F.sum("__n").over(
                    Window.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                )
            ).alias("__off"),
        ).fillna(0, subset=["__off"])
        out = ranked.join(F.broadcast(offsets), "__pid")
        # long, not int: at the 100 TB scale this module targets, > 2^31
        # rows would silently wrap a 32-bit position
        return out.withColumn(
            "shuffle_pos", (F.col("__off") + F.col("__local")).cast("long")
        ).drop("__gate", "__pid", "__local", "__off")


# ---------------------------------------------------------------------------
# oracle SQL builders (DuckDB) — same gates, same thresholds
# ---------------------------------------------------------------------------


def stratified_sample_sql(
    table: str,
    fractions: Dict[str, float],
    stratum: str = "source",
    key: str = "doc_id",
    seed: int = 0,
    default: float = 0.0,
    columns: str = "*",
) -> str:
    gate = _gate_sql(key, seed)
    cases = " ".join(
        f"WHEN {stratum} = '{v}' THEN '{_threshold_hex(f)}'"
        for v, f in sorted(fractions.items())
    )
    return (
        f"SELECT {columns} FROM {table} "
        f"WHERE {gate} < CASE {cases} ELSE '{_threshold_hex(default)}' END"
    )


def weighted_mixture_sql(
    table: str,
    weights: Dict[str, float],
    stratum: str = "source",
    key: str = "doc_id",
    seed: int = 0,
    default: float = 1.0,
    columns: str = "*",
) -> str:
    cases = " ".join(
        f"WHEN {stratum} = '{v}' THEN CAST({float(w)} AS DOUBLE)"
        for v, w in sorted(weights.items())
    )
    w_expr = f"CASE {cases} ELSE CAST({float(default)} AS DOUBLE) END"
    gate = _gate_sql(key, seed, salt="copy_idx")
    return f"""
WITH weighted AS (
  SELECT *, {w_expr} AS __w FROM {table}
), fanned AS (
  SELECT weighted.*, gs.copy_idx
  FROM weighted, LATERAL (
    SELECT unnest(range(0, CAST(ceil(__w) AS BIGINT))) AS copy_idx
  ) gs
  WHERE __w > 0
)
SELECT {columns}, copy_idx FROM fanned
WHERE copy_idx < floor(__w)
   OR {gate} < lpad(lower(hex(CAST(floor((__w - floor(__w)) * {float(_HEX_SPACE)}) AS BIGINT))), {_HEX_DIGITS}, '0')
"""


def epoch_shuffle_sql(
    table: str, key: str = "doc_id", seed: int = 0, columns: str = "*"
) -> str:
    gate = _gate_sql(key, seed)
    return (
        f"SELECT {columns}, CAST(ROW_NUMBER() OVER (ORDER BY {gate}, {key}) AS BIGINT)"
        f" AS shuffle_pos FROM {table}"
    )


class GroupCap(Pipe):
    """Deterministic per-group row cap: keep at most ``cap`` rows per value
    of ``group_col``, chosen in md5(key:seed) hash order (a seeded uniform
    draw, reproducible across engines/partitionings/reruns) — the
    "at most N documents per domain/source" quota every pretraining mix
    applies. One window over the group partitioning; at 100 TB the shuffle
    key is the group column and hot groups are exactly the ones the cap
    truncates, so output skew is bounded by ``cap`` no matter the input
    skew."""

    def __init__(
        self,
        cap: int,
        group_col: str = "source",
        key_col: str = "doc_id",
        seed: int = 0,
        **kwargs,
    ):
        if cap < 1:
            raise ValueError(f"cap must be >= 1, got {cap}")
        super().__init__(**kwargs)
        self.cap = cap
        self.group_col = group_col
        self.key_col = key_col
        self.seed = seed

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        from pyspark.sql import Window

        gate = _gate_col(F.col(self.key_col), self.seed)
        w = Window.partitionBy(self.group_col).orderBy(gate, F.col(self.key_col))
        return (
            df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= self.cap)
            .drop("__rk")
        )


def group_cap_sql(
    table: str,
    cap: int,
    columns: str = "doc_id, source",
    group_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 0,
) -> str:
    gate = _gate_sql(key_col, seed)
    return (
        f"SELECT {columns} FROM {table} "
        f"QUALIFY ROW_NUMBER() OVER (PARTITION BY {group_col} "
        f"ORDER BY {gate}, {key_col}) <= {cap}"
    )


class SplitAssign(Pipe):
    """Deterministic train/validation/test split assignment: each row's
    split is a pure function of ``md5(key:seed)`` — reproducible across
    engines, partitionings, reruns and growing data (a row keeps its split
    when the corpus is re-processed or appended to, the property RNG
    splits lack). ``splits`` maps split name -> fraction (must sum to
    <= 1; any hash-space remainder falls into ``default_split``).

    The hash gate is compared against cumulative hex thresholds in the
    SORTED-name order of ``splits`` (deterministic construction); the
    assignment is one scan-level CASE expression — no shuffle, no action;
    at 100 TB it composes with any downstream per-split write or filter."""

    def __init__(
        self,
        splits: Dict[str, float],
        key_col: str = "doc_id",
        seed: int = 0,
        out_col: str = "split",
        default_split: str = "train",
        **kwargs,
    ):
        if not splits:
            raise ValueError("SplitAssign needs at least one named split")
        total = sum(splits.values())
        if any(f < 0 for f in splits.values()) or total > 1.0 + 1e-9:
            raise ValueError(
                f"split fractions must be >= 0 and sum <= 1, got {splits}"
            )
        kwargs.setdefault("update", True)
        super().__init__(**kwargs)
        self.splits = dict(splits)
        self.key_col = key_col
        self.seed = seed
        self.out_col = out_col
        self.default_split = default_split

    def _thresholds(self):
        cum = 0.0
        out = []
        for name in sorted(self.splits):
            cum += self.splits[name]
            out.append((name, _threshold_hex(cum)))
        return out

    def _columns(self, df: DataFrame, **kwargs) -> Dict[str, Column]:
        gate = _gate_col(F.col(self.key_col), self.seed)
        expr = None
        for name, bound in self._thresholds():
            cond = gate < F.lit(bound)
            expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
                cond, F.lit(name)
            )
        return {self.out_col: expr.otherwise(F.lit(self.default_split))}


def split_assign_sql(
    table: str,
    splits: Dict[str, float],
    columns: str = "doc_id",
    key_col: str = "doc_id",
    seed: int = 0,
    out_col: str = "split",
    default_split: str = "train",
) -> str:
    """DuckDB oracle for :class:`SplitAssign` — identical gate, identical
    cumulative hex thresholds (first matching CASE arm assigns)."""
    gate = _gate_sql(key_col, seed)
    whens = []
    cum = 0.0
    for name in sorted(splits):
        cum += splits[name]
        whens.append(f"WHEN {gate} < '{_threshold_hex(cum)}' THEN '{name}'")
    case = "CASE " + " ".join(whens) + f" ELSE '{default_split}' END"
    return f"SELECT {columns}, {case} AS {out_col} FROM {table}"


class UniMaxSample(Pipe):
    """UniMax source-balanced sampling (Chung et al. 2023, UniMax: Fairer
    and More Effective Language Sampling) — the principled alternative to
    temperature mixing (:class:`TemperatureMixture`): allocate a token
    budget across sources as UNIFORMLY as possible, capping every source
    at ``epoch_cap`` epochs of its own data so low-resource sources are
    never over-repeated. The published waterfall, exactly: visit sources
    by ascending token count; each takes ``min(epoch_cap * c_src,
    remaining / sources_left)``; its leftover flows to the rest.

    Every quantity is INTEGER arithmetic (floor division), so the
    allocation replays bit-exactly in the SQL oracle's recursive CTE —
    no float thresholds anywhere: a document is kept iff its md5 hex gate
    is below ``(alloc * 16^12) // c_src`` rendered as the same
    zero-padded hex literal in both engines.

    Scale shape: per-source token counts are a map-side-combined groupBy
    whose result is SOURCE-CARDINALITY-sized — the waterfall runs on the
    driver over that bounded table (the same bounded-metadata pattern as
    the ANN trainers) and rejoins as a broadcast literal table; the corpus
    itself is touched once, filter-only, no shuffle of document rows.

    Output: the sampled docs ``(doc_id, source, n_tokens, source_tokens,
    source_alloc)``.
    """

    def __init__(
        self,
        budget_num: int = 2,
        budget_den: int = 5,
        epoch_cap: int = 2,
        id_col: str = "doc_id",
        text_col: str = "text",
        source_col: str = "source",
        seed: int = 0,
        **kwargs,
    ):
        if budget_num <= 0 or budget_den <= 0:
            raise ValueError("budget fraction must be positive")
        if epoch_cap < 1:
            raise ValueError(f"epoch_cap must be >= 1, got {epoch_cap}")
        super().__init__(**kwargs)
        self.budget_num = budget_num
        self.budget_den = budget_den
        self.epoch_cap = epoch_cap
        self.id_col = id_col
        self.text_col = text_col
        self.source_col = source_col
        self.seed = seed

    @staticmethod
    def waterfall(counts, budget: int, epoch_cap: int):
        """The UniMax allocation loop in exact integer arithmetic.
        ``counts``: {source: token_count}. Returns {source: alloc}."""
        ordered = sorted(counts.items(), key=lambda kv: (kv[1], kv[0]))
        remaining = budget
        alloc = {}
        for i, (src, c) in enumerate(ordered):
            share = remaining // (len(ordered) - i)
            a = min(epoch_cap * c, share)
            alloc[src] = a
            remaining -= a
        return alloc

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        from warp_pipes_spark.text.analysis import tokens_expr

        tok = df.select(
            F.col(self.id_col).alias("doc_id"),
            F.col(self.source_col).alias("source"),
            F.size(tokens_expr(F.col(self.text_col))).alias("n_tokens"),
        )
        # bounded driver-side metadata: one row per SOURCE, not per doc
        src_rows = tok.groupBy("source").agg(F.sum("n_tokens").alias("c")).collect()
        counts = {r["source"]: int(r["c"]) for r in src_rows}
        total = sum(counts.values())
        budget = total * self.budget_num // self.budget_den
        alloc = self.waterfall(counts, budget, self.epoch_cap)
        rows = []
        for src, c in counts.items():
            a = alloc[src]
            thr = (a * _HEX_SPACE) // c if c > 0 else 0
            thr_hex = "g" if thr >= _HEX_SPACE else format(thr, "0" + str(_HEX_DIGITS) + "x")
            rows.append((src, c, a, thr_hex))
        tdf = df.sparkSession.createDataFrame(
            rows, "source string, source_tokens long, source_alloc long, thr string"
        )
        return (
            tok.join(F.broadcast(tdf), "source")
            .filter(_gate_col(F.col("doc_id"), self.seed) < F.col("thr"))
            .select("doc_id", "source", "n_tokens", "source_tokens", "source_alloc")
        )


def unimax_sql(
    table: str = "documents",
    budget_num: int = 2,
    budget_den: int = 5,
    epoch_cap: int = 2,
    id_col: str = "doc_id",
    text: str = "text",
    source_col: str = "source",
    seed: int = 0,
) -> str:
    """DuckDB oracle for :class:`UniMaxSample`: the identical integer
    waterfall as a recursive CTE (HUGEINT intermediates for the hex
    threshold product), the identical md5 gate."""
    from warp_pipes_spark.text.analysis import tokens_sql

    gate = _gate_sql(id_col, seed)
    E = epoch_cap
    return f"""
WITH RECURSIVE tok AS (
  SELECT {id_col} AS doc_id, {source_col} AS source,
         CAST(len({tokens_sql(text)}) AS BIGINT) AS n_tokens,
         {gate} AS g
  FROM {table}
),
src AS (SELECT source, SUM(n_tokens) AS c FROM tok GROUP BY 1),
tot AS (
  SELECT SUM(c) * {budget_num} // {budget_den} AS budget,
         CAST(COUNT(*) AS BIGINT) AS n_src
  FROM src
),
ordered AS (
  SELECT source, c, ROW_NUMBER() OVER (ORDER BY c ASC, source ASC) AS rn
  FROM src
),
walloc(rn, source, c, a, remaining) AS (
  SELECT 0, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         (SELECT budget FROM tot)
  UNION ALL
  SELECT o.rn, o.source, o.c,
         LEAST({E} * o.c, w.remaining // ((SELECT n_src FROM tot) - o.rn + 1)),
         w.remaining
         - LEAST({E} * o.c, w.remaining // ((SELECT n_src FROM tot) - o.rn + 1))
  FROM walloc w JOIN ordered o ON o.rn = w.rn + 1
),
thr AS (
  SELECT source, c AS source_tokens, a AS source_alloc,
         CASE WHEN c = 0 THEN ''
              WHEN (CAST(a AS HUGEINT) * {_HEX_SPACE}) // c >= {_HEX_SPACE} THEN 'g'
              ELSE lpad(lower(hex(CAST((CAST(a AS HUGEINT) * {_HEX_SPACE}) // c AS BIGINT))),
                        {_HEX_DIGITS}, '0')
         END AS thr_hex
  FROM walloc WHERE rn >= 1
)
SELECT t.doc_id, t.source, t.n_tokens, th.source_tokens, th.source_alloc
FROM tok t JOIN thr th USING (source)
WHERE t.g < th.thr_hex
"""


class PrioritySample(Pipe):
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006
    A-ES): each row draws priority ``ln(u) / w`` from the deterministic
    md5 uniform ``u = (h48 + 1) / 2^48`` and the k highest priorities are
    the sample — one pass, no rejection loop, inclusion probability
    proportional to weight, and a row's priority never depends on any
    other row (so the sample is mergeable/resumable: re-running over a
    grown corpus keeps every survivor whose priority still ranks).

    The classic formulation keeps the k largest ``u^(1/w)``; taking logs
    gives ``ln(u)/w`` (w > 0), monotone-identical and float-stable. The
    only cross-engine float ops are one ``ln`` (decimal-rounded at 1e-6,
    the engine's standard budget) and one division (IEEE, exact-rounded
    both engines); rounded-priority ties break on the key column, so
    Spark and the DuckDB oracle select the identical sample.

    Scale shape: priorities are scan-level expressions; global top-k
    compiles to TakeOrdered (per-partition partial top-k, then a k-sized
    merge) — no global sort, no single-partition window, no shuffle of
    the unsampled rows."""

    def __init__(
        self,
        k: int,
        weight_col: str = "weight",
        key_col: str = "doc_id",
        seed: int = 11,
        out_col: str = "priority",
        **kwargs,
    ):
        if k < 1:
            raise ValueError(f"need k >= 1, got {k}")
        super().__init__(**kwargs)
        self.k = k
        self.weight_col = weight_col
        self.key_col = key_col
        self.seed = seed
        self.out_col = out_col

    def priority_expr(self) -> Column:
        h48 = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(self.key_col).cast("string"),
                        F.lit(f":{self.seed}"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        u = (h48 + 1).cast("double") / F.lit(float(1 << 48))
        lnu = F.log(u).cast("decimal(18,6)")
        return (
            (lnu.cast("double") / F.col(self.weight_col).cast("double"))
            .cast("decimal(18,6)")
            .cast("double")
        )

    # smallest admissible weight: |ln(u)| <= 48*ln(2) ~ 33.3, so any
    # w >= 1e-9 keeps |priority| < 3.4e10, comfortably inside
    # DECIMAL(18,6)'s 1e12 range. Below that the decimal cast OVERFLOWS —
    # silently NULL in Spark (row sorts last) but a hard error in DuckDB —
    # so the bound is enforced identically on both sides (round-4 advisor
    # finding). Semantically free: a w < 1e-9 row's inclusion odds in any
    # realistic top-k are zero anyway.
    MIN_WEIGHT = 1e-9

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        # A-ES is defined for w > 0 only: a negative weight would flip
        # ln(u)/w positive and outrank every valid row, and w = 0 yields
        # a NULL priority — both silently corrupt the sample, so
        # non-positive weights are excluded up front (mirrored in
        # priority_sample_sql); sub-MIN_WEIGHT rows go with them to keep
        # the decimal cast in range on both engines
        valid = df.filter(F.col(self.weight_col) >= self.MIN_WEIGHT)
        scored = valid.withColumn(self.out_col, self.priority_expr())
        return scored.orderBy(
            F.col(self.out_col).desc(), F.col(self.key_col)
        ).limit(self.k)


def priority_sample_sql(
    table_sql: str,
    k: int,
    weight_expr: str,
    key: str = "doc_id",
    seed: int = 11,
    columns: str = "doc_id, source",
    out_col: str = "priority",
) -> str:
    """DuckDB oracle for :class:`PrioritySample`: identical md5 uniform,
    rounded log, division and (priority DESC, key) order."""
    h48 = f"('0x' || substring(md5(CAST({key} AS VARCHAR) || ':{seed}'), 1, 12))::BIGINT"
    u = f"(CAST({h48} + 1 AS DOUBLE) / {float(1 << 48)!r})"
    lnu = f"CAST(ln({u}) AS DECIMAL(18,6))"
    prio = (
        f"CAST(CAST(CAST({lnu} AS DOUBLE) / CAST({weight_expr} AS DOUBLE) "
        f"AS DECIMAL(18,6)) AS DOUBLE)"
    )
    return f"""
SELECT {columns}, {prio} AS {out_col}
FROM ({table_sql}) t
WHERE {weight_expr} >= 1e-9
ORDER BY {out_col} DESC, {key}
LIMIT {k}
"""


class TokenBudgetPlan(Pipe):
    """Static mixture planner for a fixed training-token budget — the
    step BEFORE q142's row-level temperature fan-out: given per-source
    token counts, temperature-smoothed target shares ``p_s ∝ n_s^T``
    and a total budget ``B``, emit each source's integer token budget
    (summing EXACTLY to ``B`` by construction) and the implied epoch
    count — the table a pretraining run pins in its config (the
    mBERT/XLM-R smoothing with DoReMi-style static budgeting).

    Apportionment: ``alloc_s = B x share_s`` in exact decimal,
    ``base_s = floor``; the leftover ``L = B - Σ base`` (which can be
    NEGATIVE when the rounded shares sum above 1) spreads by a signed
    integer waterfall over the largest-remainder ranking: with
    ``Lm = ((L mod S) + S) mod S`` each source takes ``(L - Lm)/S``
    plus one more for the top ``Lm`` remainders — deltas sum to L for
    either sign, so the plan sums EXACTLY to B even when share rounding
    drifts (a source can absorb a ±1 correction). The single cross-engine float exposure is the
    ``pow``/division pair behind ``share`` (decimal-rounded, q142's
    budget); everything after is integer/decimal-exact.

    Scale shape: one token-count aggregation over the corpus; the plan
    itself lives on a source-sized table (a broadcast join + one bounded
    window)."""

    def __init__(
        self,
        budget_tokens: int,
        temperature: float = 0.7,
        stratum_col: str = "source",
        text_col: str = "text",
        **kwargs,
    ):
        if budget_tokens < 1:
            raise ValueError(f"budget_tokens must be >= 1, got {budget_tokens}")
        if not 0 < temperature <= 1:
            raise ValueError(f"temperature must be in (0, 1], got {temperature}")
        super().__init__(**kwargs)
        self.budget_tokens = budget_tokens
        self.temperature = temperature
        self.stratum_col = stratum_col
        self.text_col = text_col

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        from warp_pipes_spark.text.analysis import tokens_expr

        s, B = self.stratum_col, self.budget_tokens
        stats = df.select(
            s, F.size(tokens_expr(F.col(self.text_col))).alias("__t")
        ).groupBy(s).agg(F.sum("__t").alias("n_tokens"))
        stats = stats.withColumn(
            "__pw",
            F.pow(F.col("n_tokens").cast("double"), F.lit(self.temperature)),
        )
        tot = stats.agg(
            F.sum("__pw").alias("__z"),
            F.count(F.lit(1)).alias("__s"),
        )
        shared = stats.crossJoin(F.broadcast(tot)).withColumn(
            "share",
            (F.col("__pw") / F.col("__z")).cast("decimal(18,6)"),
        )
        alloc = F.col("share") * F.lit(B)
        based = shared.withColumn(
            "__base", F.floor(alloc).cast("long")
        ).withColumn("__rem", alloc - F.floor(alloc))
        lsum = based.agg(
            F.sum("__base").alias("__bsum"), F.first("__s").alias("__sn")
        )
        from pyspark.sql import Window

        w = Window.orderBy(F.col("__rem").desc(), F.col(s))
        ranked = (
            based.crossJoin(F.broadcast(lsum))
            .withColumn("__L", F.lit(B) - F.col("__bsum"))
            .withColumn("__rn", F.row_number().over(w))
            .withColumn(
                # floor-mod the leftover so NEGATIVE L (rounded shares
                # summing above 1 — e.g. six equal sources each rounding
                # HALF_UP) distributes correctly too: Lm in [0, S),
                # Lq = (L - Lm)/S exact, sum of deltas = S*Lq + Lm = L
                "__Lm",
                ((F.col("__L") % F.col("__sn")) + F.col("__sn"))
                % F.col("__sn"),
            )
            .withColumn(
                "token_budget",
                F.col("__base")
                + ((F.col("__L") - F.col("__Lm")) / F.col("__sn")).cast("long")
                + F.when(F.col("__rn") <= F.col("__Lm"), F.lit(1)).otherwise(
                    F.lit(0)
                ),
            )
        )
        dec = lambda c: c.cast("decimal(18,6)").cast("double")
        return ranked.select(
            s,
            "n_tokens",
            dec(F.col("share").cast("double")).alias("share"),
            "token_budget",
            dec(
                F.col("token_budget").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("epochs"),
        )


def token_budget_sql(
    table: str = "documents",
    budget_tokens: int = 1_000_000,
    temperature: float = 0.7,
    stratum: str = "source",
    text: str = "text",
) -> str:
    """DuckDB oracle for :class:`TokenBudgetPlan`: identical pow/share
    rounding, floor apportionment and leftover waterfall."""
    from warp_pipes_spark.text.analysis import tokens_sql

    B = budget_tokens
    return f"""
WITH stats AS (
  SELECT {stratum}, SUM(len({tokens_sql(text)})) AS n_tokens
  FROM {table} GROUP BY 1
),
pw AS (
  SELECT *, pow(CAST(n_tokens AS DOUBLE), {temperature!r}) AS p FROM stats
),
tot AS (SELECT SUM(p) AS z, COUNT(*) AS s FROM pw),
shared AS (
  SELECT pw.*, CAST(pw.p / t.z AS DECIMAL(18,6)) AS share, t.s AS sn
  FROM pw CROSS JOIN tot t
),
based AS (
  SELECT *,
         CAST(FLOOR(share * {B}) AS BIGINT) AS base,
         share * {B} - FLOOR(share * {B}) AS rem
  FROM shared
),
lsum AS (SELECT SUM(base) AS bsum FROM based),
ranked AS (
  SELECT b.*, ({B} - l.bsum) AS L,
         ROW_NUMBER() OVER (ORDER BY b.rem DESC, b.{stratum}) AS rn
  FROM based b CROSS JOIN lsum l
)
SELECT {stratum},
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(CAST(CAST(share AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS share,
       CAST(base + ((L - (((L % sn) + sn) % sn)) // sn)
            + CASE WHEN rn <= ((L % sn) + sn) % sn THEN 1 ELSE 0 END AS BIGINT)
         AS token_budget,
       CAST(CAST(CAST(base + ((L - (((L % sn) + sn) % sn)) // sn)
                      + CASE WHEN rn <= ((L % sn) + sn) % sn THEN 1 ELSE 0 END AS DOUBLE)
                 / CAST(n_tokens AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS epochs
FROM ranked
ORDER BY {stratum}
"""


class NeymanAllocation(Pipe):
    """Optimal eval-budget allocation across strata (Neyman 1934; Cochran
    1977 §5.5): given a fixed evaluation budget of ``budget`` docs, the
    per-stratum sample size minimizing the variance of the stratified
    mean of ``value_col`` is n_h ∝ N_h * S_h — big AND internally
    diverse strata get the seats; the planner every eval-set curator
    eyeballing "1000 docs per source" should run instead.

    Exactness: with exact BIGINT moments per stratum (n, sum x, sum x²),
    N_h*S_h = sqrt(v_h) where v_h = n_h*Σx² − (Σx)² — ONE correctly
    rounded IEEE sqrt per stratum, DECIMAL(18,6)-rounded, so the share
    denominator is an EXACT decimal sum (never an order-dependent float
    sum); share and the final floor(budget*share) are then single IEEE
    ops on identical doubles in both engines. mean/sd are the usual
    single-division outputs. BIGINT bound: n_h*Σx² <= ~9e18 (n_chars
    ~1e4 ⇒ safe past 1e10 docs per stratum).

    Scale shape: one scan, one strata-sized aggregation, one broadcast
    total — nothing else."""

    def __init__(
        self,
        value_col: str,
        group_col: str = "source",
        budget: int = 1000,
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.value_col = value_col
        self.group_col = group_col
        self.budget = budget

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        D = "decimal(18,6)"
        x = F.col(self.value_col).cast("long")
        per = df.groupBy(F.col(self.group_col).alias("stratum")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(x * x).alias("sx2"),
        )
        v = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
        per = per.withColumn(
            # decimal-rounded sqrt(v_h): the Neyman weight N_h*S_h
            "w", F.sqrt(v.cast("double")).cast(D)
        )
        tot = per.agg(
            F.sum("w").alias("tw"), F.sum("n").alias("tn")
        )
        out = per.crossJoin(F.broadcast(tot))
        share = F.when(
            F.col("tw") > 0,
            (F.col("w").cast("double") / F.col("tw").cast("double"))
            .cast(D)
            .cast("double"),
        ).otherwise(F.lit(0.0))
        return out.select(
            "stratum",
            F.col("n").cast("long").alias("n_docs"),
            (F.col("sx").cast("double") / F.col("n").cast("double"))
            .cast(D)
            .cast("double")
            .alias("mean_value"),
            (F.sqrt(v.cast("double")) / F.col("n").cast("double"))
            .cast(D)
            .cast("double")
            .alias("sd_value"),
            (F.col("n").cast("double") / F.col("tn").cast("double"))
            .cast(D)
            .cast("double")
            .alias("prop_share"),
            share.alias("neyman_share"),
            F.floor(F.lit(float(self.budget)) * share)
            .cast("long")
            .alias("n_eval"),
        )


def neyman_allocation_sql(
    table: str, value: str, group: str = "source", budget: int = 1000
) -> str:
    """DuckDB oracle for :class:`NeymanAllocation` — identical exact
    moments, rounded sqrt weights, exact decimal weight total."""
    return f"""
WITH per AS MATERIALIZED (
  SELECT {group} AS stratum, COUNT(*) AS n,
         SUM(CAST({value} AS BIGINT)) AS sx,
         SUM(CAST({value} AS BIGINT) * CAST({value} AS BIGINT)) AS sx2
  FROM {table} GROUP BY 1
),
wts AS (
  SELECT *, CAST(sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)) AS DECIMAL(18,6))
              AS w
  FROM per
),
tot AS (SELECT SUM(w) AS tw, SUM(n) AS tn FROM wts)
SELECT stratum,
       CAST(n AS BIGINT) AS n_docs,
       CAST(CAST(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
            AS DECIMAL(18,6)) AS DOUBLE) AS mean_value,
       CAST(CAST(sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)) / CAST(n AS DOUBLE)
            AS DECIMAL(18,6)) AS DOUBLE) AS sd_value,
       CAST(CAST(CAST(n AS DOUBLE) / CAST(tn AS DOUBLE)
            AS DECIMAL(18,6)) AS DOUBLE) AS prop_share,
       CASE WHEN tw > 0
            THEN CAST(CAST(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE)
                 AS DECIMAL(18,6)) AS DOUBLE)
            ELSE 0.0 END AS neyman_share,
       CAST(FLOOR({budget}.0 * (CASE WHEN tw > 0
            THEN CAST(CAST(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE)
                 AS DECIMAL(18,6)) AS DOUBLE)
            ELSE 0.0 END)) AS BIGINT) AS n_eval
FROM wts CROSS JOIN tot
"""


class MixtureConcentration(Pipe):
    """Per-stratum source-concentration report: Herfindahl-Hirschman
    index of the source mixture within each stratum (Herfindahl 1950;
    Hirschman 1945; the antitrust concentration measure, used for data
    mixtures by e.g. the UniMax analysis of per-language source
    monopolies) plus the effective number of sources 1/HHI (Laakso &
    Taagepera 1979's "effective number of parties"). The panel that
    flags a language whose tokens come overwhelmingly from ONE feed —
    a single-point-of-failure for both contamination and license risk —
    before mixture weights are committed.

    hhi = sum_s n_s^2 / N^2 in (0, 1], eff_sources = N^2 / sum_s n_s^2
    = 1/hhi. Numerator and denominator are exact BIGINTs from one
    (stratum, source) count table; each report value is ONE IEEE
    division rounded once to DECIMAL(18,6). hhi = 1 means a
    single-source stratum; eff_sources ~ k means "as diverse as k
    equal sources".

    Scale shape: one scan, one keyed count, one stratum-sized rollup —
    the cheapest possible mixture analytic; no windows, no joins."""

    def __init__(
        self,
        stratum_col: str = "lang",
        source_col: str = "source",
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.stratum_col = stratum_col
        self.source_col = source_col

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        D = "decimal(18,6)"
        cnt = df.groupBy(
            F.col(self.stratum_col).alias("stratum"),
            F.col(self.source_col).alias("src"),
        ).agg(F.count(F.lit(1)).alias("c"))
        agg = cnt.groupBy("stratum").agg(
            F.sum("c").alias("n_docs"),
            F.count(F.lit(1)).alias("n_sources"),
            F.sum(F.col("c") * F.col("c")).alias("sq"),
        )
        n2 = F.col("n_docs") * F.col("n_docs")
        return agg.select(
            F.col("stratum").alias(self.stratum_col),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_sources").cast("long").alias("n_sources"),
            (F.col("sq").cast("double") / n2.cast("double"))
            .cast(D)
            .cast("double")
            .alias("hhi"),
            (n2.cast("double") / F.col("sq").cast("double"))
            .cast(D)
            .cast("double")
            .alias("eff_sources"),
        )


def mixture_concentration_sql(
    table: str = "documents",
    stratum: str = "lang",
    source: str = "source",
) -> str:
    """DuckDB oracle for :class:`MixtureConcentration` — identical
    exact BIGINT counts and single rounded divisions."""
    return f"""
WITH cnt AS (
  SELECT {stratum} AS stratum, {source} AS src, COUNT(*) AS c
  FROM {table} GROUP BY 1, 2
),
agg AS (
  SELECT stratum, SUM(c) AS n_docs, COUNT(*) AS n_sources,
         SUM(c * c) AS sq
  FROM cnt GROUP BY 1
)
SELECT stratum AS {stratum},
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_sources AS BIGINT) AS n_sources,
       CAST(CAST(CAST(sq AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE)
            AS DECIMAL(18,6)) AS DOUBLE) AS hhi,
       CAST(CAST(CAST(n_docs * n_docs AS DOUBLE) / CAST(sq AS DOUBLE)
            AS DECIMAL(18,6)) AS DOUBLE) AS eff_sources
FROM agg
"""


class LeakageSafeSplit(Pipe):
    """Near-dup-aware train/validation/test assignment: a plain
    :class:`SplitAssign` keyed on doc_id leaks — two near-duplicate
    documents hash independently, so one lands in train and its twin in
    validation, and the eval score silently measures memorization.
    This operator keys the split hash on the DUPLICATE CLUSTER instead:
    ``pairs`` (any pair-finding dedup's output — exact, Jaccard,
    MinHash, SimHash) close transitively via ``text/dedup.py``
    ``DedupClusters`` (min-id label), unmatched documents stay
    singleton clusters of themselves, and every member of a cluster
    gets the SAME ``md5(cluster_id:seed)`` gate — so a whole near-dup
    family moves between splits as one unit and no pair ever straddles
    a split boundary. Output: (doc_id, cluster_id, split).

    Scale shape: the pair edge list is dedup-sized (never corpus
    quadratic — it comes from a banded/prefix-filtered finder), the
    closure iterates over it with pointer jumping, the label join-back
    is one left join, and the split itself is a scan-level CASE — no
    additional shuffle beyond the closure.

    Reference anchor: dedup + sampling composition (SURVEY.md §2 dedup
    tier x q59's SplitAssign); the leakage this prevents is exactly
    what q160's split-leakage AUDIT measures after the fact.
    """

    def __init__(
        self,
        pairs: DataFrame,
        splits: Dict[str, float],
        id_col: str = "doc_id",
        seed: int = 0,
        default_split: str = "train",
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.pairs = pairs
        self.splits = dict(splits)
        self.id_col = id_col
        self.seed = seed
        self.default_split = default_split

    _no_fingerprint = ("pairs",)

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        from warp_pipes_spark.text.dedup import DedupClusters

        clusters = DedupClusters()(self.pairs)
        labeled = (
            df.select(F.col(self.id_col).alias("doc_id"))
            .join(clusters, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                    "cluster_id"
                ),
            )
        )
        return SplitAssign(
            self.splits,
            key_col="cluster_id",
            seed=self.seed,
            default_split=self.default_split,
        )(labeled)


def leakage_safe_split_sql(
    table: str,
    pairs_sql: str,
    splits: Dict[str, float],
    id_col: str = "doc_id",
    seed: int = 0,
    default_split: str = "train",
) -> str:
    """DuckDB oracle for :class:`LeakageSafeSplit` — recursive-CTE
    closure over the same pairs + the same cumulative hex gate on the
    cluster id."""
    from warp_pipes_spark.text.dedup import dedup_clusters_sql

    inner = (
        f"SELECT d.{id_col} AS doc_id,"
        f" COALESCE(c.cluster_id, d.{id_col}) AS cluster_id"
        f" FROM {table} d LEFT JOIN ({dedup_clusters_sql(pairs_sql)}) c"
        f" ON d.{id_col} = c.doc_id"
    )
    return split_assign_sql(
        f"({inner}) labeled",
        splits,
        columns="doc_id, cluster_id",
        key_col="cluster_id",
        seed=seed,
        default_split=default_split,
    )
