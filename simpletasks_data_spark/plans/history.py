"""Change-history (CDC) side output.

The reference creates one audit row per updated item that changed at least
one ``keep_history`` column, with ``old_<col>``/``new_<col>`` pairs and an
apply-time timestamp (``/root/reference/simpletasks_data/importtask.py:
37-50, 326-343``). History is emitted on update only, never on create
(``importtask.py:276``).

Here the history table is declared as data (key column mapping + tracked
columns), not a callback: the changed-rows slice of the final image already
holds old (``_orig_<col>``) and new values side by side, so the CDC frame
is a projection — no extra join, no shuffle.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.merge import CREATING, HIST, ORIG


@dataclass
class HistorySpec:
    """Shape of the history table: ``model_key`` names the FK column in the
    history output (e.g. ``model_id``), populated from the target's key."""

    tracked_columns: List[str]
    key_column: str = "id"
    model_key: str = "model_id"
    date_column: str = "date"
    fixed_date: Optional[datetime.datetime] = None  # deterministic runs/tests


def build_history(image: DataFrame, spec: HistorySpec) -> DataFrame:
    """History rows from the working image: non-creating rows where a
    tracked column's per-(source,column) history flag is set (the Spark
    analogue of the reference's per-item history set, importtask.py:
    326-331). Columns without a surviving flag stay NULL in the audit row,
    exactly as the reference leaves unset history-model fields at their
    default. Falls back to change-vs-pre-image when the image carries no
    flag column (e.g. history built outside an ImportJob run)."""

    def flag(c: str):
        if HIST + c in image.columns:
            return F.col(HIST + c)
        return ~F.col(c).eqNullSafe(F.col(ORIG + c))

    any_flag = F.lit(False)
    for c in spec.tracked_columns:
        any_flag = any_flag | flag(c)
    changed = any_flag & ~F.col(CREATING)
    date_col = (
        F.lit(spec.fixed_date).cast("timestamp") if spec.fixed_date is not None else F.current_timestamp()
    )
    sel = [F.col(spec.key_column).alias(spec.model_key)]
    for c in spec.tracked_columns:
        sel.append(F.when(flag(c), F.col(ORIG + c)).alias("old_" + c))
        sel.append(F.when(flag(c), F.col(c)).alias("new_" + c))
    sel.append(date_col.alias(spec.date_column))
    return image.where(changed).select(*sel)
