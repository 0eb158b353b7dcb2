"""The merge: one source folded into the running target image.

This is the Spark re-expression of the reference's row-at-a-time
``_parseSource`` loop (``/root/reference/simpletasks_data/importtask.py:
197-311``): scan -> header skip -> row filter -> project(parse) -> key
normalize -> per-key policy-aware fold -> FULL OUTER equi-join with the
target image -> per-column policy branches (SQL ``MERGE`` semantics: WHEN
MATCHED / WHEN NOT MATCHED [BY SOURCE]) -> counters.

Scale design (100 TB north star):

- The target image is never materialized on the driver (the reference holds
  it all in a dict, ``importtask.py:211-216``); everything is DataFrame ops,
  Catalyst picks broadcast-hash vs sort-merge per side and AQE re-plans at
  runtime (skew join, partition coalescing).
- Within-source duplicate keys are resolved with ONE hash aggregation
  (``min_by``/``max_by`` over the order column) rather than a window sort —
  partial aggregation runs map-side, and the single shuffle on the
  (normalized) key is shared with the subsequent join.
- ONE Spark job per source: every counter (read/ignored/…/rejected/
  not_found, plus warn counts) is an ``Observation`` metric collected by the
  single eager checkpoint that materializes the merged image — no extra
  actions, no recomputation.

Duplicate-key fold (``importtask.py:251-284``): the reference creates an
item from the FIRST occurrence of a new key (policy gates are skipped for
the creating row, ``importtask.py:252, 258``) and treats later duplicates
as updates, so per column the folded value is

- ``should_update=False``    -> the first gated row's value (NULL if that
  row's parse errored — later rows may not touch the column);
- ``should_update_only_if_null`` -> the first non-error, non-NULL value
  (the first such write blocks all later ones);
- otherwise                  -> the last non-error value (parse errors keep
  the previous good value; a value equal to the stored one cancels the
  pending update — ``importtask.py:266-270``).

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

from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..mapping import BoundMapping
from ..session import observed
from ..sources.base import SRC_POS, ImportMode, Source, overrides

ORIG = "_orig_"
CREATING = "_creating"
HIST = "_hist_"


@dataclass
class MergeStepResult:
    image: DataFrame          # new working image (target cols + bookkeeping)
    counters: Dict[str, int]  # reference per-source counter dict (7 keys)
    warnings: Dict[str, int]  # per-column warn counts (reference logs these,
                              # importtask.py:262-284; we surface counts)


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


def merge_source(
    spark: SparkSession,
    image: DataFrame,
    source: Source,
    bound: BoundMapping,
    target_cols: List[str],
) -> MergeStepResult:
    """Fold one source into the working image; returns the new image (lazy
    over a checkpoint) plus the reference-shaped per-source counters.
    Exactly ONE Spark job runs here (the eager checkpoint); all counters are
    Observation metrics of that job."""
    mode = source.mode
    can_create = bool(mode & ImportMode.CREATE)
    can_update = bool(mode & ImportMode.UPDATE)
    key_name = bound.key_column_name
    mapped = bound.columns
    mapped_names = [c.name for c in mapped]
    tracked = [c[len(HIST):] for c in image.columns if c.startswith(HIST)]

    # Columns are immutable: each one used more than once is built once.
    pos = F.col(SRC_POS)
    key = F.col("_key")
    imported = F.col("_imp")
    gate = F.col("_gate")
    matched = F.col("_matched")

    # ---- scan -> header skip -> row filter (importtask.py:220-225) --------
    raw = source.load_raw(spark)
    header_n = source.get_header_line_number()
    if header_n >= 0:
        raw = raw.filter(pos > header_n)
    pred = source.should_import(raw)
    if pred is not None:
        raw = raw.withColumn("_imp", pred)
    else:
        raw = raw.withColumn("_imp", F.lit(True))

    # ---- project: parse every mapped column + err channel -----------------
    proj_cols = [pos, imported]
    for bc in mapped:
        v, e = bc.exprs(raw)
        proj_cols.append(v.alias("v_" + bc.name))
        proj_cols.append(e.alias("e_" + bc.name))
    pre = raw.select(*proj_cols)
    # Key: parsed key normalized; parse-miss (NULL) -> ignored_missing_id
    # (importtask.py:229-232).
    pre = pre.withColumn("_key", bound.normalize_key(F.col("v_" + key_name)))

    # ---- per-row match status against the image (for exact counters) ------
    # Only the ignored_not_created / ignored_not_updated counters and the
    # warn 'reaches' refinement need to know whether a row's key exists in
    # the target; in CREATE_AND_UPDATE mode both counters are structurally
    # zero and the gate reduces to key_ok — skip the distinct+join of the
    # image keys entirely (one fewer shuffle per source).
    need_match_join = not (can_create and can_update)
    if need_match_join:
        image_keys = (
            image.select(bound.normalize_key(F.col(key_name)).alias("_key"))
            .where(key.isNotNull())
            .distinct()
        )
        pre = pre.join(image_keys.withColumn("_m", F.lit(True)), on="_key", how="left")
        matched_static = F.coalesce(F.col("_m"), F.lit(False))
    else:
        # warn counts for matched rows' should_update=False columns become
        # an upper bound (already documented as approximate)
        matched_static = F.lit(False)

    key_ok = imported & key.isNotNull()

    # Within-source dynamics: once a CREATE-capable source has seen a key, a
    # later duplicate row probes the *pending* item and is "matched"
    # (importtask.py:294-297). In CREATE_AND_UPDATE mode the gate is the
    # same on both branches (key_ok) and the match-dependent counters are
    # structurally zero, so the first-occurrence window (a per-key sort
    # pass over the whole source) is dead weight — skip it; warn counts
    # for should_update=False columns become the same documented upper
    # bound as the skipped match join above.
    if can_create and not can_update:
        w_first = F.min(F.when(key_ok, pos)).over(Window.partitionBy("_key"))
        matched_dyn = matched_static | (pos > w_first)
    else:
        matched_dyn = matched_static

    gate_expr = key_ok & F.when(matched_dyn, F.lit(can_update)).otherwise(F.lit(can_create))
    pre = pre.withColumn("_gate", gate_expr).withColumn("_matched", matched_dyn)

    # ---- counters over the pre-dedupe projection: Observation metrics
    # harvested by the downstream checkpoint job — no separate action -------
    pre_metrics = [
        F.count_if(~imported).alias("ignored"),
        F.count_if(imported & key.isNull()).alias("ignored_missing_id"),
        F.count_if(key_ok & ~matched & F.lit(not can_create)).alias("ignored_not_created"),
        F.count_if(key_ok & matched & F.lit(not can_update)).alias("ignored_not_updated"),
        F.count_if(gate).alias("read"),
    ]
    # Warn counts (reference logger.warning sites, importtask.py:262-284).
    # A column is "reached" by a row when the row is gated and either the
    # row is the creating one or the column may update. (The reference also
    # skips only_if_null columns whose pending value is non-NULL — that
    # check needs the join image, so warn counts for such columns are an
    # upper bound; documented.)
    vals = {bc.name: F.col("v_" + bc.name) for bc in mapped}
    errs = {bc.name: F.coalesce(F.col("e_" + bc.name), F.lit(False)) for bc in mapped}
    pre_dtypes = dict(zip(pre.schema.names, [f.dataType for f in pre.schema.fields]))
    warn_names: List[str] = []
    for bc in mapped:
        spec = bc.spec
        if not (spec.warn_on_error or spec.warn_if_empty):
            continue
        v_c, e_c = vals[bc.name], errs[bc.name]
        reaches = gate & (~matched | F.lit(spec.should_update))
        cond = F.lit(False)
        if spec.warn_on_error:
            cond = cond | (reaches & e_c)
        if spec.warn_if_empty:
            cond = cond | (reaches & ~e_c & _falsy_expr(v_c, pre_dtypes["v_" + bc.name]))
        warn_names.append(bc.name)
        pre_metrics.append(F.count_if(cond).alias("w_" + bc.name))
    pre, read_pre = observed(pre, *pre_metrics)

    # ---- policy-aware per-key fold: ONE hash agg, no window sort ----------
    # (duplicate-key semantics per the module docstring)
    by_name = {bc.name: bc for bc in mapped}
    qual_gate = F.when(gate, pos)
    aggs = [F.max(gate).alias("_has_vals")]
    for bc in mapped:
        n = bc.name
        v, e = vals[n], errs[n]
        if not bc.spec.should_update:
            # first gated (creating) row's value + err
            aggs.append(
                F.min_by(F.struct(v.alias("v"), e.alias("e")), qual_gate).alias("f_" + n)
            )
        elif bc.spec.should_update_only_if_null:
            # first non-error, non-NULL value blocks all later ones
            aggs.append(F.min_by(v, F.when(gate & ~e & v.isNotNull(), pos)).alias("u_" + n))
        else:
            # last non-error value; whether ANY non-error gated row exists
            good = gate & ~e
            aggs.append(F.max_by(v, F.when(good, pos)).alias("u_" + n))
            aggs.append(F.max(F.when(good, F.lit(True))).alias("ok_" + n))
    s = (
        pre.where(key.isNotNull() & imported)
        .groupBy("_key")
        .agg(*aggs)
        .withColumn("_s_present", F.lit(True))
    )

    # ---- FULL OUTER merge join (importtask.py:234-249) --------------------
    t = image.withColumn("_t_key", bound.normalize_key(F.col(key_name))).withColumn(
        "_t_present", F.lit(True)
    )
    j = t.join(s, t["_t_key"] == s["_key"], "full_outer")

    t_here = F.coalesce(F.col("_t_present"), F.lit(False))
    s_here = F.coalesce(F.col("_s_present"), F.lit(False))
    s_vals = F.coalesce(F.col("_has_vals"), F.lit(False))
    is_update = t_here & s_here & s_vals & F.lit(can_update)
    is_insert = ~t_here & s_here & s_vals & F.lit(can_create)

    cur = {c: F.col(c) for c in target_cols}
    orig = {c: F.col(ORIG + c) for c in target_cols}
    image_dtypes = dict(image.dtypes)
    out_cols: List = []
    upd_parts: Dict[str, Tuple[Column, Column, Column]] = {}  # name -> (upd_ok, eq_pending, eq_orig)
    for c in target_cols:
        t_c, orig_c = cur[c], orig[c]
        bc = by_name.get(c)
        if bc is None:
            new_c = F.when(is_insert, F.lit(None).cast(image_dtypes[c])).otherwise(t_c)
        elif not bc.spec.should_update:
            f = F.col("f_" + c)
            ins_val = F.when(f.getField("e"), F.lit(None).cast(image_dtypes[c])).otherwise(
                f.getField("v")
            )
            new_c = F.when(is_insert, ins_val).otherwise(t_c)
        else:
            spec = bc.spec
            u_c = F.col("u_" + c)
            # Per-column diff vs pending (no-op keep) and vs the stored
            # pre-image (duplicate cancel, importtask.py:266-270).
            eq_pending = spec.compare_expr(u_c, t_c)
            eq_orig = spec.compare_expr(u_c, orig_c)
            if spec.should_update_only_if_null:
                upd_ok = t_c.isNull()
            else:
                upd_ok = F.coalesce(F.col("ok_" + c), F.lit(False))
            upd_parts[c] = (upd_ok, eq_pending, eq_orig)
            upd_val = F.when(eq_pending, t_c).when(eq_orig, orig_c).otherwise(u_c)
            new_c = (
                F.when(is_insert, u_c)
                .when(is_update & upd_ok, upd_val)
                .otherwise(t_c)
            )
        out_cols.append(new_c.alias("n_" + c))

    # History-set bookkeeping (importtask.py:152-179): a recorded update by
    # a keep_history-flagged spec sets the flag; a cancel back to the stored
    # value discards it; a recorded update by an unflagged spec leaves a
    # previously-set flag in place (set_updated_value_for never clears).
    hist_cols: List = []
    for c in tracked:
        old_h = F.coalesce(F.col(HIST + c), F.lit(False))
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
        hist_cols.append(new_h.alias("h_" + c))

    creating = F.col(CREATING)
    th = F.col("_th")
    sh = F.col("_sh")
    j = j.select(
        *orig.values(),
        creating,
        F.col("_t_key"),
        t_here.alias("_th"),
        s_here.alias("_sh"),
        s_vals.alias("_sv"),
        *out_cols,
        *hist_cols,
    )

    # Rows that exist on neither branch's output: source-only keys that may
    # not create (UPDATE-only unknown keys, importtask.py:234-237).
    j = j.where(th | (sh & F.col("_sv") & F.lit(can_create)))

    new_creating = F.when(~th, F.lit(True)).otherwise(creating)

    out = j.select(
        *[F.col("n_" + c).alias(c) for c in target_cols],
        *orig.values(),
        new_creating.alias(CREATING),
        *[F.col("h_" + c).alias(HIST + c) for c in tracked],
        th.alias("_was_target"),
        sh.alias("_seen"),
    )

    # ---- per-source validate_updates hook (importsource.py:109-123) -------
    # Built only for a source that overrides the hook: the default accepts
    # everything, and its inputs are two structs over every target column.
    seen = F.col("_seen")
    invalid = F.lit(False)
    hook = None
    if overrides(source, Source, "validate_updates"):
        hook = source.validate_updates(
            F.struct(*cur.values()),
            F.struct(*[orig[c].alias(c) for c in target_cols]),
            creating,
        )
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
        invalid = seen & (changed_any | creating) & ~F.coalesce(hook, F.lit(True))

    # not_found: target rows whose key never appeared (anti-join semantics
    # of WHEN NOT MATCHED BY SOURCE; importtask.py:299-301).
    nf_pred = F.col("_was_target") & ~seen

    out, read_post = observed(
        out,
        F.count_if(nf_pred).alias("not_found"),
        F.count_if(invalid).alias("rejected"),
    )

    # Materialize the merged image ONCE: the single job that computes every
    # counter above (via the two observations), feeds the next source's
    # fold, and cuts cross-source lineage (importtask semantics need source
    # N+1 to see source N's pending state anyway). On a real cluster this
    # would be a reliable checkpoint or an exchange reuse.
    out = out.localCheckpoint(eager=True)

    # An optimizer-pruned observation (the randomized policy-matrix
    # test's shrink found one: UPDATE-only source against a statically
    # empty target) falls back to an aggregation inside ``observed``.
    pre_m = read_pre()
    post_m = read_post()
    rejected = int(post_m["rejected"])
    not_found = int(post_m["not_found"])

    if rejected:
        # Applied lazily over the checkpointed frame (importtask.py:287-292).
        out = revert_rejected(out, invalid, target_cols)

    nf_handled = None
    if overrides(source, Source, "on_data_not_found"):
        nf_handled = source.on_data_not_found(finalize_image(out.where(nf_pred), target_cols))

    keep_cols = (
        list(target_cols) + [ORIG + c for c in target_cols] + [CREATING] + [HIST + c for c in tracked]
    )
    new_image = out.select(*keep_cols)
    if nf_handled is not None:
        # The hook rewrote the not-found slice (flagged, mutated, or emptied
        # to delete — importsource.py:125-133 "can delete the item"): splice
        # it back in. Rows the hook dropped leave the image; rows it changed
        # keep their pre-image so the edit shows up as a pending update.
        kept = out.where(~nf_pred).select(*keep_cols)
        nf_orig = out.where(nf_pred).select(
            bound.normalize_key(F.col(key_name)).alias("_nfk"),
            *orig.values(),
            creating,
            *[F.col(HIST + c) for c in tracked],
        )
        handled = nf_handled.join(
            nf_orig, bound.normalize_key(nf_handled[key_name]) == nf_orig["_nfk"], "left"
        ).select(
            *[nf_handled[c] for c in target_cols],
            *orig.values(),
            F.coalesce(creating, F.lit(False)).alias(CREATING),
            *[F.coalesce(F.col(HIST + c), F.lit(False)).alias(HIST + c) for c in tracked],
        )
        new_image = kept.unionByName(handled)

    counters = {
        "read": int(pre_m["read"]),
        "ignored": int(pre_m["ignored"]),
        "ignored_missing_id": int(pre_m["ignored_missing_id"]),
        "ignored_not_created": int(pre_m["ignored_not_created"]),
        "ignored_not_updated": int(pre_m["ignored_not_updated"]),
        "rejected": rejected,
        "not_found": not_found,
    }
    warnings = {n: int(pre_m["w_" + n]) for n in warn_names if int(pre_m["w_" + n])}
    return MergeStepResult(image=new_image, counters=counters, warnings=warnings)


def revert_rejected(image: DataFrame, invalid: Column, target_cols: List[str]) -> DataFrame:
    """``del updates[item]`` for rows where ``invalid`` holds: creating
    items vanish, updated items revert to their stored pre-image, and
    their history flags discard (importtask.py:287-292, 319-321). Every
    other column passes through in place."""
    reverted = {c: F.when(invalid, F.col(ORIG + c)).otherwise(F.col(c)) for c in target_cols}
    for c in image.columns:
        if c.startswith(HIST):
            reverted[c] = F.when(invalid, F.lit(False)).otherwise(F.col(c))
    return image.where(~(invalid & F.col(CREATING))).withColumns(reverted)
