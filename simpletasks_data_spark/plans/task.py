"""ImportJob: the task lifecycle — the Spark analogue of ``ImportTask``.

Mirrors ``/root/reference/simpletasks_data/importtask.py:379-395``:

  pre_process -> read target snapshot -> fold sources IN ORDER, pass by
  pass (§operators.merge) -> post_process -> apply-time validation
  (non-nullable rejection) and counters, observed on the last pass ->
  pre_commit -> atomic write (+ history append) unless dry-run ->
  post_commit -> result dict.

Cross-source pending visibility (``importtask.py:136-150``): inside a pass
(consecutive sources sharing the key column and comparator, ended by a
source with an ``on_data_not_found`` hook) each source's MERGE policy is a
projection layer over the previous source's; a pass's output image becomes
the next pass's target side. Each pass ends in one ``localCheckpoint`` —
cutting lineage so the plan doesn't grow quadratically across passes, and
materializing pending state once per pass; the last one also observes the
apply-time counters (``rejected``, ``created``, ``updated``,
``history_created``), so no separate aggregate runs. (On a real cluster use
``spark.sparkContext.setCheckpointDir`` + reliable ``checkpoint``;
localCheckpoint is the single-node analogue.)

Dry-run (the reference's ``execute()`` gate, ``importtask.py:370``):
compute the full merge plan and counter dict, skip both writes.
"""

from __future__ import annotations

import datetime
import logging
from typing import Any, Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..mapping import BoundMapping
from ..operators.merge import CREATING, HIST, INVALID, ORIG, finalize_image, init_image
from ..operators.merge import merge_source, passes
from ..sources.base import Source, overrides
from .history import HistorySpec, build_history
from .target import TargetTable


class ImportJob:
    def __init__(
        self,
        spark: SparkSession,
        target: TargetTable,
        sources: Optional[Sequence[Source]] = None,
        keep_history: bool = False,
        history_spec: Optional[HistorySpec] = None,
        history_sink: Optional[TargetTable] = None,
        dryrun: bool = False,
    ) -> None:
        self.spark = spark
        self.target = target
        self._sources = list(sources) if sources is not None else None
        self.keep_history = keep_history
        self.history_spec = history_spec
        self.history_sink = history_sink
        self.dryrun = dryrun
        self.history_df: Optional[DataFrame] = None
        self.result_df: Optional[DataFrame] = None
        # Per-source warn counts ({column: count}), mirroring the reference's
        # logger.warning sites (importtask.py:262-284). Kept OUT of the
        # result dict so the counter shape stays verbatim-reference.
        self.warnings: List[Dict[str, int]] = []
        # Reference ergonomics (importtask.py:206, 219): a task-scoped
        # logger and a progress callback. The reference wraps its row loop
        # in self.progress(); Spark has no row loop, so the analogue is a
        # per-lifecycle-stage callback — override progress() to wire a
        # progress bar / metrics emitter (a SparkListener gives per-task
        # granularity beyond this).
        self.logger = logging.getLogger(
            f"{__name__.split('.')[0]}.{type(self).__name__}"
        )

    def progress(self, stage: str, **info: Any) -> None:
        """Per-stage progress hook (reference importtask.py:206 wraps its
        row iterator in ``self.progress``); default just logs."""
        self.logger.info("progress: %s %s", stage, info or "")

    # -- overridable lifecycle hooks (importtask.py:81-111) -----------------
    def get_sources(self) -> Sequence[Source]:
        if self._sources is None:
            raise NotImplementedError("pass sources= or override get_sources()")
        return self._sources

    def pre_process(self) -> Dict[str, int]:
        return {}

    def post_process(self) -> Dict[str, int]:
        return {}

    def pre_commit(self) -> Dict[str, int]:
        return {}

    def post_commit(self) -> Dict[str, int]:
        return {}

    def get_model_data(self) -> DataFrame:
        """Target scan; override to pre-filter the build side (partition /
        predicate pruning — importtask.py:113-122)."""
        return self.target.read(self.spark)

    def validate_updates(self, new, old, creating):
        """Apply-time validation hook as a boolean Column over the final
        item image; None = use the default non-nullable check
        (importtask.py:52-70). ``run`` calls it only when overridden."""
        return None

    # ----------------------------------------------------------------------
    def run(self) -> Dict[str, Any]:
        results: Dict[str, Any] = {}
        self.progress("pre_process")
        results["preprocess"] = self.pre_process()

        target_cols = self.target.columns
        sources = list(self.get_sources())
        bounds: List[BoundMapping] = [
            source.mapping.bind(self.target.schema, self.target.lengths) for source in sources
        ]
        # Columns flagged keep_history by ANY source get a per-row history
        # flag in the image; each merge step sets/clears its own column's
        # flag per the *changing* source's spec (reference per-item history
        # set, importtask.py:152-179).
        tracked = self._tracked_columns(bounds)
        image = init_image(self.get_model_data(), target_cols, tuple(tracked))

        # ---- apply-time validation (importtask.py:313-321), observed on
        # the last pass's checkpoint ---------------------------------------
        creating = F.col(CREATING)
        changed_any = F.lit(False)
        for c in target_cols:
            changed_any = changed_any | ~F.col(c).eqNullSafe(F.col(ORIG + c))
        pending = changed_any | creating

        hook = None
        if overrides(self, ImportJob, "validate_updates"):
            hook = self.validate_updates(
                F.struct(*[F.col(c) for c in target_cols]),
                F.struct(*[F.col(ORIG + c).alias(c) for c in target_cols]),
                creating,
            )
        if hook is None:
            valid = F.lit(True)
            for c in self.target.non_nullable_columns():
                valid = valid & F.col(c).isNotNull()
        else:
            valid = F.coalesce(hook, F.lit(True))

        # History fires when any per-(source,column) flag survived the folds
        # — not merely when a tracked column's value changed (the change
        # could have come from a source whose spec doesn't keep history).
        hist_changed = F.lit(False)
        for c in tracked:
            hist_changed = hist_changed | F.col(HIST + c)
        invalid = F.col(INVALID)
        checks = (pending & ~valid, [
            F.count_if(invalid).alias("rejected"),
            F.count_if(~invalid & creating).alias("created"),
            F.count_if(~invalid & ~creating & changed_any).alias("updated"),
            F.count_if(
                F.lit(self.keep_history and bool(tracked)) & ~invalid & ~creating & hist_changed
            ).alias("history_created"),
        ])

        per_source = []
        self.warnings = []
        groups = passes(sources, bounds)
        for n, group in enumerate(groups):
            for source, _ in group:
                self.progress("merge_source", source=source.name)
            # merge_source checkpoints the merged frame; the image here is a
            # thin projection over it (no re-execution). The last pass also
            # applies the checks and reverts the rows they reject
            # (importtask.py:319-321).
            step = merge_source(
                self.spark, image, group, target_cols, checks if n == len(groups) - 1 else None
            )
            image = step.image
            for (source, _), counters, warnings in zip(group, step.counters, step.warnings):
                # per-source child logger, as the reference scopes its row-loop
                # logging (importtask.py:206 ``self.logger.getChild(source.name)``)
                slog = self.logger.getChild(source.name)
                per_source.append(counters)
                self.warnings.append(warnings)
                slog.info("merged: %s", counters)
                for col, cnt in warnings.items():
                    slog.warning("%d warnings on column %s", cnt, col)
        results["sources"] = per_source
        totals = step.checks

        results["postprocess"] = self.post_process()

        # ---- history CDC frame (plans/history.py) ------------------------
        if self.keep_history and tracked:
            spec = self.history_spec or HistorySpec(
                tracked_columns=tracked, key_column=self.target.primary_keys[0]
            )
            self.history_df = build_history(image, spec)

        final = finalize_image(image, target_cols)
        self.result_df = final

        results["precommit"] = self.pre_commit()
        self.progress("commit", dryrun=self.dryrun)
        if not self.dryrun:
            self.target.overwrite(final)
            if self.history_df is not None and self.history_sink is not None:
                new_hist = self.history_sink.read(self.spark).unionByName(
                    self.history_df, allowMissingColumns=True
                )
                self.history_sink.overwrite(new_hist)
        results["postcommit"] = self.post_commit()

        for k in ("rejected", "updated", "created", "history_created"):
            results[k] = totals[k]
        return results

    @staticmethod
    def _tracked_columns(bounds: List[BoundMapping]) -> List[str]:
        seen: List[str] = []
        for b in bounds:
            for bc in b.columns:
                if bc.spec.keep_history and bc.name not in seen:
                    seen.append(bc.name)
        return seen
