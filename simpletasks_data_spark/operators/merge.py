"""The merge: an import's sources folded, pass by pass, into the running
target image.

This is the Spark re-expression of the reference's row-at-a-time
``_parseSource`` loop (``/root/reference/simpletasks_data/importtask.py:
197-311``): scan -> header skip -> row filter -> project(parse) -> key
normalize -> per-key policy-aware fold -> FULL OUTER equi-join with the
target image -> per-column policy branches (SQL ``MERGE`` semantics: WHEN
MATCHED / WHEN NOT MATCHED [BY SOURCE]) -> counters.

Passes (``passes``): a run of consecutive sources whose mappings share the
key column and the key comparator folds in ONE pass. A source that
overrides ``on_data_not_found`` ends its pass, because that hook reads the
not-found slice as a materialized frame. Inside a pass each source is
scanned and parsed on its own; the union of the sources' rows folds per
key in one aggregation, where each source's aggregates see only its own
rows, and that per-key frame is FULL OUTER joined with the image once.
(Joining one per-key frame per source instead costs one more exchange:
a full outer join's output does not keep its children's partitioning.)
Each source's MERGE policy is then one projection layer over the
previous layer's output, in source order, so a source sees every earlier
source's pending state (``importtask.py:136-150``). Per row, ``_ex`` says
whether the key exists before a layer: the row came from the image, or an
earlier layer created it and no ``validate_updates`` rejected it since.

Scale design (100 TB north star):

- The target image is never materialized on the driver (the reference holds
  it all in a dict, ``importtask.py:211-216``); everything is DataFrame ops,
  Catalyst picks the join strategy per side and AQE re-plans at runtime
  (skew join, partition coalescing).
- Within-source duplicate keys are resolved with ONE aggregation per pass
  (``min_by``/``max_by`` over the order column) rather than a window sort —
  partial aggregation runs map-side, and the single shuffle of the
  sources' rows on the (normalized) key is shared with the join.
- ONE action per pass: the eager checkpoint of the merged image, which
  shuffles the image once (adaptive execution runs each exchange of that
  plan as a job of its own). Every counter is an ``Observation`` metric of
  that checkpoint:
  - ``ignored`` and ``ignored_missing_id``, and ``read`` and the warn
    counts of a CREATE_AND_UPDATE source, do not depend on the image; they
    are observed on the source's parsed rows;
  - ``read``, ``ignored_not_created``, ``ignored_not_updated`` and the warn
    counts of an UPDATE-only or CREATE-only source depend on whether the
    key exists; each is a per-key count carried out of the source's fold
    and summed over the rows of its layer, where ``_ex`` is known;
  - ``not_found`` and ``rejected`` are per-row flags of their layer.
  A target holding one (normalized) key on several rows counts the
  per-key counters once per such row.

Duplicate-key fold (``importtask.py:251-284``): the reference creates an
item from the FIRST occurrence of a new key (policy gates are skipped for
the creating row, ``importtask.py:252, 258``) and treats later duplicates
as updates, so per column the folded value is

- ``should_update=False``    -> the first row's value (NULL if that row's
  parse errored — later rows may not touch the column);
- ``should_update_only_if_null`` -> the first non-error, non-NULL value
  (the first such write blocks all later ones);
- otherwise                  -> the last non-error value (parse errors keep
  the previous good value; a value equal to the stored one cancels the
  pending update — ``importtask.py:266-270``).

A CREATE-only source creates from its first row and ignores the later
ones (``ignored_not_updated``), so every column takes the first row's value.
These folds are exact for the default null-safe comparator; a custom
comparator that declares unequal values "equal" could diverge on
multi-duplicate keys (single-step fold vs the reference's row-at-a-time
fold) — documented micro-divergence.

Working-image bookkeeping columns (carried, columnar, shuffle-free):
``_orig_<col>`` (task-start value — pre-image for history/cancel/revert),
``_creating`` (row created during this task), and ``_hist_<col>`` (a
pending update to <col> was recorded by a source whose spec flags
``keep_history`` — the Spark analogue of the reference's per-item history
set, ``importtask.py:152-179``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..mapping import BoundColumn, BoundMapping
from ..session import observed
from ..sources.base import SRC_POS, ImportMode, Source, overrides

ORIG = "_orig_"
CREATING = "_creating"
HIST = "_hist_"
INVALID = "_invalid"
EXISTS = "_ex"
NOT_FOUND = "_nf"


@dataclass
class MergeStepResult:
    image: DataFrame                # new working image (target cols + bookkeeping)
    counters: List[Dict[str, int]]  # per source: the reference counter dict (7 keys)
    warnings: List[Dict[str, int]]  # per source: per-column warn counts (reference
                                    # logs these, importtask.py:262-284)
    checks: Dict[str, int] = field(default_factory=dict)  # apply-time metrics


def init_image(
    target_df: DataFrame, target_cols: List[str], tracked_cols: Tuple[str, ...] = ()
) -> DataFrame:
    """Target snapshot -> working image: every column doubled as its own
    pre-image, _creating=false, per-tracked-column history flags false."""
    sel = [F.col(c) for c in target_cols]
    sel += [F.col(c).alias(ORIG + c) for c in target_cols]
    sel.append(F.lit(False).alias(CREATING))
    sel += [F.lit(False).alias(HIST + c) for c in tracked_cols]
    return target_df.select(*sel)


def finalize_image(image: DataFrame, target_cols: List[str]) -> DataFrame:
    return image.select(*[F.col(c) for c in target_cols])


def passes(
    sources: Sequence[Source], bounds: Sequence[BoundMapping]
) -> List[List[Tuple[Source, BoundMapping]]]:
    """Split an import's sources, in order, into merge passes: a pass goes
    on while the key column and the key comparator stay the same, and ends
    after a source that overrides ``on_data_not_found``. An import without
    sources gets one empty pass, which still applies the apply-time
    checks."""
    out: List[List[Tuple[Source, BoundMapping]]] = []
    for source, bound in zip(sources, bounds):
        if out and _continues(out[-1][-1], bound):
            out[-1].append((source, bound))
        else:
            out.append([(source, bound)])
    return out or [[]]


def _continues(prev: Tuple[Source, BoundMapping], bound: BoundMapping) -> bool:
    source, b = prev
    return (
        not overrides(source, Source, "on_data_not_found")
        and b.key_column_name == bound.key_column_name
        and b.key_comparator == bound.key_comparator
    )


def _falsy_expr(v: Column, dtype: T.DataType) -> Column:
    """Spark analogue of Python's ``not value`` over a parsed column
    (reference warn_if_empty check, ``importtask.py:264``)."""
    if isinstance(dtype, T.StringType):
        return v.isNull() | (v == "")
    if isinstance(dtype, T.BooleanType):
        return v.isNull() | ~v
    if isinstance(dtype, T.NumericType):
        return v.isNull() | (v == 0)
    if isinstance(dtype, (T.ArrayType, T.MapType)):
        return v.isNull() | (F.size(v) == 0)
    # dates/timestamps/intervals: only None is falsy in the common case
    return v.isNull()


def _takes_first(bc: BoundColumn, can_update: bool) -> bool:
    """The column folds to its first row's value: it never updates, or its
    source may only create."""
    return not (can_update and bc.spec.should_update)


@dataclass
class _Fold:
    """One source of a pass: ``rows`` are its parsed rows that have a key
    (columns prefixed ``p``, plus ``_key``, ``_src`` and the order column);
    ``aggs`` fold them per key, each guarded to this source's rows, into
    columns prefixed ``p``; ``read_pre`` reads the counters observed on the
    parsed rows; ``warn_names`` are the columns whose warn count is a
    per-key aggregate."""

    source: Source
    bound: BoundMapping
    p: str
    rows: DataFrame
    aggs: List[Column]
    read_pre: Callable[[], Dict[str, Any]]
    warn_names: List[str]


def _fold(spark: SparkSession, source: Source, bound: BoundMapping, i: int) -> _Fold:
    p = f"_s{i}_"
    can_create = bool(source.mode & ImportMode.CREATE)
    can_update = bool(source.mode & ImportMode.UPDATE)
    both = can_create and can_update
    mapped = bound.columns

    # Columns are immutable: each one used more than once is built once.
    pos = F.col(SRC_POS)
    key = F.col("_key")
    imported = F.col("_imp")

    # ---- scan -> header skip -> row filter (importtask.py:220-225) --------
    raw = source.load_raw(spark)
    header_n = source.get_header_line_number()
    if header_n >= 0:
        raw = raw.filter(pos > header_n)
    pred = source.should_import(raw)
    raw = raw.withColumn("_imp", pred if pred is not None else F.lit(True))

    # ---- project: parse every mapped column + err channel -----------------
    proj_cols = [pos, imported]
    for bc in mapped:
        v, e = bc.exprs(raw)
        proj_cols.append(v.alias(p + "v_" + bc.name))
        proj_cols.append(e.alias(p + "e_" + bc.name))
    pre = raw.select(*proj_cols)
    # Key: parsed key normalized; parse-miss (NULL) -> ignored_missing_id
    # (importtask.py:229-232).
    pre = pre.withColumn("_key", bound.normalize_key(F.col(p + "v_" + bound.key_column_name)))
    key_ok = imported & key.isNotNull()

    # Warn conditions (reference logger.warning sites, importtask.py:
    # 262-284), counted over the rows that reach the column: a gated row
    # that creates, or a gated update when the column may update. (The
    # reference also skips only_if_null columns whose pending value is
    # non-NULL — that check needs the join image, so warn counts for such
    # columns are an upper bound; documented.)
    vals = {bc.name: F.col(p + "v_" + bc.name) for bc in mapped}
    errs = {bc.name: F.coalesce(F.col(p + "e_" + bc.name), F.lit(False)) for bc in mapped}
    pre_dtypes = dict(zip(pre.schema.names, [f.dataType for f in pre.schema.fields]))
    warn: Dict[str, Column] = {}
    for bc in mapped:
        spec = bc.spec
        if not (spec.warn_on_error or spec.warn_if_empty):
            continue
        v_c, e_c = vals[bc.name], errs[bc.name]
        cond = F.lit(False)
        if spec.warn_on_error:
            cond = cond | e_c
        if spec.warn_if_empty:
            cond = cond | (~e_c & _falsy_expr(v_c, pre_dtypes[p + "v_" + bc.name]))
        warn[bc.name] = cond

    # ---- counters that need no image: Observation metrics harvested by
    # the pass's checkpoint job — no separate action ------------------------
    pre_metrics = [
        F.count_if(~imported).alias("ignored"),
        F.count_if(imported & key.isNull()).alias("ignored_missing_id"),
    ]
    if both:
        # Every row with a key is read, as a create or an update; whether a
        # row updates is not known here, so the warn counts of
        # should_update=False columns are an upper bound (documented).
        pre_metrics.append(F.count_if(key_ok).alias("read"))
        pre_metrics += [F.count_if(key_ok & c).alias("w_" + n) for n, c in warn.items()]
    pre, read_pre = observed(pre, *pre_metrics)

    # ---- policy-aware per-key fold (duplicate-key semantics per the module
    # docstring), and per-key counts for the counters that depend on the
    # image. The pass folds all its sources in ONE hash aggregation, so
    # each aggregate only sees this source's rows. -------------------------
    mine = F.col("_src") == i
    aggs = [F.max(F.when(mine, F.lit(True))).alias(p + "key")]  # NULL: key not in source
    warn_names: List[str] = []
    if not both:
        # A CREATE-only source reads only a new key's first row; an
        # UPDATE-only one reads every row of a matched key, and they reach
        # only the columns that may update.
        aggs.append(F.count_if(mine).alias(p + "n"))
        warn_names = [bc.name for bc in mapped if bc.name in warn and (can_create or bc.spec.should_update)]
        aggs += [
            (F.min_by(warn[n], F.when(mine, pos)) if can_create else F.count_if(mine & warn[n]))
            .alias(p + "w_" + n)
            for n in warn_names
        ]
    for bc in mapped:
        n = bc.name
        v, e = vals[n], errs[n]
        if _takes_first(bc, can_update):
            if can_create:
                first = F.struct(v.alias("v"), e.alias("e"))
                aggs.append(F.min_by(first, F.when(mine, pos)).alias(p + "f_" + n))
        elif bc.spec.should_update_only_if_null:
            # first non-error, non-NULL value blocks all later ones
            aggs.append(F.min_by(v, F.when(mine & ~e & v.isNotNull(), pos)).alias(p + "u_" + n))
        else:
            # last non-error value; whether ANY non-error row exists
            aggs.append(F.max_by(v, F.when(mine & ~e, pos)).alias(p + "u_" + n))
            aggs.append(F.max(F.when(mine & ~e, F.lit(True))).alias(p + "ok_" + n))
    rows = pre.where(key_ok).withColumn("_src", F.lit(i))
    return _Fold(source, bound, p, rows, aggs, read_pre, warn_names)


def _reverted(invalid: Column, target_cols: List[str], tracked: List[str]) -> Dict[str, Column]:
    """``del updates[item]`` where ``invalid`` holds: the columns revert to
    their stored pre-image and the history flags discard
    (importtask.py:287-292, 319-321). A creating item also leaves the
    image; each caller drops it its own way."""
    out = {c: F.when(invalid, F.col(ORIG + c)).otherwise(F.col(c)) for c in target_cols}
    out.update({HIST + c: F.when(invalid, F.lit(False)).otherwise(F.col(HIST + c)) for c in tracked})
    return out


def _layer(
    j: DataFrame,
    f: _Fold,
    target_cols: List[str],
    tracked: List[str],
    dtypes: Dict[str, str],
) -> Tuple[DataFrame, List[str]]:
    """Apply one source's MERGE policy to the pass frame ``j``: one
    projection (two when the source validates its updates). Returns the
    new frame and the names of the per-row counter columns it added."""
    p, source = f.p, f.source
    can_create = bool(source.mode & ImportMode.CREATE)
    can_update = bool(source.mode & ImportMode.UPDATE)
    by_name = {bc.name: bc for bc in f.bound.columns}

    ex = F.col(EXISTS)
    here = F.col(p + "key").isNotNull()
    is_update = (ex & here) if can_update else F.lit(False)
    is_insert = (~ex & here) if can_create else F.lit(False)
    creating = F.col(CREATING)
    cur = {c: F.col(c) for c in target_cols}
    orig = {c: F.col(ORIG + c) for c in target_cols}

    new: Dict[str, Column] = {}
    upd_parts: Dict[str, Tuple[Column, Column, Column]] = {}  # name -> (upd_ok, eq_pending, eq_orig)
    for c in target_cols:
        t_c, orig_c = cur[c], orig[c]
        bc = by_name.get(c)
        if bc is None:
            new_c = F.when(is_insert, F.lit(None).cast(dtypes[c])).otherwise(t_c)
        elif _takes_first(bc, can_update):
            if not can_create:
                continue
            first = F.col(p + "f_" + c)
            ins_val = F.when(first.getField("e"), F.lit(None).cast(dtypes[c])).otherwise(
                first.getField("v")
            )
            new_c = F.when(is_insert, ins_val).otherwise(t_c)
        else:
            spec = bc.spec
            u_c = F.col(p + "u_" + c)
            # Per-column diff vs pending (no-op keep) and vs the stored
            # pre-image (duplicate cancel, importtask.py:266-270).
            eq_pending = spec.compare_expr(u_c, t_c)
            eq_orig = spec.compare_expr(u_c, orig_c)
            if spec.should_update_only_if_null:
                upd_ok = t_c.isNull()
            else:
                upd_ok = F.coalesce(F.col(p + "ok_" + c), F.lit(False))
            upd_parts[c] = (upd_ok, eq_pending, eq_orig)
            upd_val = F.when(eq_pending, t_c).when(eq_orig, orig_c).otherwise(u_c)
            new_c = F.when(is_insert, u_c).when(is_update & upd_ok, upd_val).otherwise(t_c)
        new[c] = new_c

    # History-set bookkeeping (importtask.py:152-179): a recorded update by
    # a keep_history-flagged spec sets the flag; a cancel back to the stored
    # value discards it; a recorded update by an unflagged spec leaves a
    # previously-set flag in place (set_updated_value_for never clears).
    for c in tracked:
        old_h = F.col(HIST + c)
        parts = upd_parts.get(c)
        if parts is None:
            new_h = F.when(is_insert, F.lit(False)).otherwise(old_h)
        else:
            upd_ok, eq_pending, eq_orig = parts
            touched = is_update & upd_ok & ~eq_pending
            kh = bool(by_name[c].spec.keep_history)
            new_h = (
                F.when(is_insert, F.lit(False))
                .when(touched & ~eq_orig, F.lit(kh) | old_h)   # recorded set
                .when(touched & eq_orig, F.lit(False))         # cancel -> discard
                .otherwise(old_h)
            )
        new[HIST + c] = new_h
    new[CREATING] = creating | is_insert
    new[EXISTS] = ex | is_insert

    # Per-row counters, read against the key's existence BEFORE this layer.
    # not_found: image rows whose key never appeared (anti-join semantics
    # of WHEN NOT MATCHED BY SOURCE; importtask.py:245, 299-301).
    counts = {p + "not_found": F.when(ex & ~here, 1)}
    if not (can_create and can_update):
        n = F.col(p + "n")
        if can_create:
            # the first row of a new key creates; every other row is ignored
            counts[p + "read"] = F.when(is_insert, 1)
            counts[p + "ignored_not_updated"] = F.when(here, F.when(ex, n).otherwise(n - 1))
            counts.update({p + "w_" + w: F.when(is_insert & F.col(p + "w_" + w), 1) for w in f.warn_names})
        else:
            counts[p + "read"] = F.when(is_update, n)
            counts[p + "ignored_not_created"] = F.when(~ex & here, n)
            counts.update({p + "w_" + w: F.when(is_update, F.col(p + "w_" + w)) for w in f.warn_names})
    j = j.withColumns({**new, **counts})

    # ---- per-source validate_updates hook (importsource.py:109-123) -------
    # Built only for a source that overrides the hook: the default accepts
    # everything, and its inputs are two structs over every target column.
    hook = None
    if overrides(source, Source, "validate_updates"):
        hook = source.validate_updates(
            F.struct(*cur.values()),
            F.struct(*[orig[c].alias(c) for c in target_cols]),
            creating,
        )
    names = list(counts)
    if hook is not None:
        changed_any = F.lit(False)
        for c in target_cols:
            bc = by_name.get(c)
            cmp_eq = (
                bc.spec.compare_expr(cur[c], orig[c])
                if bc is not None
                else cur[c].eqNullSafe(orig[c])
            )
            changed_any = changed_any | ~cmp_eq
        rejected = p + "rejected"
        j = j.withColumn(
            rejected, F.when(ex & here & (changed_any | creating) & ~F.coalesce(hook, F.lit(True)), 1)
        )
        invalid = F.col(rejected).isNotNull()
        j = j.withColumns({
            **_reverted(invalid, target_cols, tracked),
            EXISTS: ex & ~(invalid & creating),
        })
        names.append(rejected)
    return j, names


def _apply_checks(
    image: DataFrame,
    checks: Tuple[Column, Sequence[Column]],
    target_cols: List[str],
    tracked: List[str],
) -> Tuple[DataFrame, Callable[[], Dict[str, Any]]]:
    """The import's apply-time validation over its final image: flag
    ``INVALID`` rows, observe the metrics, then revert them (creating
    rows vanish, updated rows return to their stored pre-image)."""
    invalid, metrics = checks
    image, read = observed(image.withColumn(INVALID, invalid), *metrics)
    inv = F.col(INVALID)
    image = image.where(~(inv & F.col(CREATING))).withColumns(_reverted(inv, target_cols, tracked))
    return image.drop(INVALID), read


def merge_source(
    spark: SparkSession,
    image: DataFrame,
    sources: Sequence[Tuple[Source, BoundMapping]],
    target_cols: List[str],
    checks: Optional[Tuple[Column, Sequence[Column]]] = None,
) -> MergeStepResult:
    """Fold one pass (see ``passes``) into the working image; returns the
    new image (lazy over a checkpoint) plus each source's reference-shaped
    counters. One action runs here, the eager checkpoint, and every
    counter is an Observation metric of it.

    ``checks`` — for the import's last pass — is ``(invalid, metrics)``:
    a flag over the final image's columns and aggregate Columns over those
    columns and ``INVALID``. They ride the same checkpoint (a second one
    when the pass ends with an ``on_data_not_found`` hook, whose edits
    they must see); flagged rows revert, and ``checks`` of the result holds
    the metrics."""
    tracked = [c[len(HIST):] for c in image.columns if c.startswith(HIST)]
    folds = [_fold(spark, s, b, i) for i, (s, b) in enumerate(sources)]

    # ---- FULL OUTER merge join (importtask.py:234-249): the sources' rows
    # fold per key in one aggregation, whose shuffle on the key the join
    # reuses; the image is shuffled once per pass --------------------------
    if folds:
        b0 = folds[0].bound
        rows = folds[0].rows
        for f in folds[1:]:
            rows = rows.unionByName(f.rows, allowMissingColumns=True)
        s = rows.groupBy("_key").agg(*[a for f in folds for a in f.aggs])
        t = image.withColumns({
            "_t_key": b0.normalize_key(F.col(b0.key_column_name)),
            "_t_present": F.lit(True),
        })
        j = t.join(s, F.col("_t_key") == F.col("_key"), "full_outer").withColumns({
            CREATING: F.coalesce(F.col(CREATING), F.lit(False)),
            **{HIST + c: F.coalesce(F.col(HIST + c), F.lit(False)) for c in tracked},
            EXISTS: F.col("_t_present").isNotNull(),
        })
    else:
        j = image.withColumn(EXISTS, F.lit(True))

    dtypes = dict(image.dtypes)
    count_names: List[str] = []
    for f in folds:
        j, names = _layer(j, f, target_cols, tracked, dtypes)
        count_names += names
    read_post = None
    if count_names:
        j, read_post = observed(j, *[F.sum(F.col(n)).alias(n) for n in count_names])

    keep_cols = list(target_cols) + [ORIG + c for c in target_cols] + [CREATING] + [HIST + c for c in tracked]
    nf_source = sources[-1][0] if sources else None
    nf_hook = nf_source is not None and overrides(nf_source, Source, "on_data_not_found")
    out = j.where(F.col(EXISTS)).select(
        *keep_cols, *([F.col(folds[-1].p + "not_found").isNotNull().alias(NOT_FOUND)] if nf_hook else [])
    )
    read_checks = None
    if checks is not None and not nf_hook:
        out, read_checks = _apply_checks(out, checks, target_cols, tracked)

    # Materialize the merged image ONCE: the single action that computes
    # every counter above (via the observations), feeds the next pass, and
    # cuts cross-pass lineage. On a real cluster this would be a reliable
    # checkpoint or an exchange reuse. An optimizer-pruned observation (an
    # UPDATE-only source against a statically empty target) falls back to
    # an aggregation inside ``observed``.
    out = out.localCheckpoint(eager=True)
    post = read_post() if read_post is not None else {}

    new_image = out
    if nf_hook:
        nf_pred = F.col(NOT_FOUND)
        nf_handled = nf_source.on_data_not_found(finalize_image(out.where(nf_pred), target_cols))
        new_image = out.select(*keep_cols)
        if nf_handled is not None:
            # The hook rewrote the not-found slice (flagged, mutated, or
            # emptied to delete — importsource.py:125-133 "can delete the
            # item"): splice it back in. Rows the hook dropped leave the
            # image; rows it changed keep their pre-image so the edit shows
            # up as a pending update.
            b = sources[-1][1]
            kept = out.where(~nf_pred).select(*keep_cols)
            nf_orig = out.where(nf_pred).select(
                b.normalize_key(F.col(b.key_column_name)).alias("_nfk"),
                *[F.col(ORIG + c) for c in target_cols],
                F.col(CREATING),
                *[F.col(HIST + c) for c in tracked],
            )
            handled = nf_handled.join(
                nf_orig, b.normalize_key(nf_handled[b.key_column_name]) == nf_orig["_nfk"], "left"
            ).select(
                *[nf_handled[c] for c in target_cols],
                *[F.col(ORIG + c) for c in target_cols],
                F.coalesce(F.col(CREATING), F.lit(False)).alias(CREATING),
                *[F.coalesce(F.col(HIST + c), F.lit(False)).alias(HIST + c) for c in tracked],
            )
            new_image = kept.unionByName(handled)
        if checks is not None:
            new_image, read_checks = _apply_checks(new_image, checks, target_cols, tracked)
            new_image = new_image.localCheckpoint(eager=True)

    counters, warnings = [], []
    for f in folds:
        # A source's counters: its per-row sums, then what its parsed rows
        # observed (read and warn counts too, for CREATE_AND_UPDATE).
        got = {k[len(f.p):]: int(v or 0) for k, v in post.items() if k.startswith(f.p)}
        got.update({k: int(v) for k, v in f.read_pre().items()})
        counters.append({
            k: got.get(k, 0)
            for k in ("read", "ignored", "ignored_missing_id", "ignored_not_created",
                      "ignored_not_updated", "rejected", "not_found")
        })
        warnings.append({k[2:]: v for k, v in got.items() if k.startswith("w_") and v})
    return MergeStepResult(
        image=new_image,
        counters=counters,
        warnings=warnings,
        checks={k: int(v) for k, v in read_checks().items()} if read_checks is not None else {},
    )
