"""Bounding-box geometry: IoU kernel + native Catalyst expression.

Reference: utils.py:45-79 ``calculate_iou`` over [x1,y1,x2,y2] boxes
(embedded fixture: (0,0,2,2)×(1,1,3,3) → 1/7, disjoint → 0, utils.py:86-104).

The Spark variant is a pure column expression (greatest/least
arithmetic) so IoU theta-joins stay inside whole-stage codegen — no
Python in the join hot path.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def calculate_iou(box1: Sequence[float], box2: Sequence[float]) -> float:
    x_left = max(box1[0], box2[0])
    y_top = max(box1[1], box2[1])
    x_right = min(box1[2], box2[2])
    y_bottom = min(box1[3], box2[3])
    if x_right < x_left or y_bottom < y_top:
        return 0.0
    inter = (x_right - x_left) * (y_bottom - y_top)
    a1 = (box1[2] - box1[0]) * (box1[3] - box1[1])
    a2 = (box2[2] - box2[0]) * (box2[3] - box2[1])
    union = a1 + a2 - inter
    if union <= 0:
        return 0.0
    return inter / union


def iou_expr(
    x1a: Column, y1a: Column, x2a: Column, y2a: Column,
    x1b: Column, y1b: Column, x2b: Column, y2b: Column,
) -> Column:
    """IoU as a native expression (utils.py:45-79 semantics)."""
    xl = F.greatest(x1a, x1b)
    yt = F.greatest(y1a, y1b)
    xr = F.least(x2a, x2b)
    yb = F.least(y2a, y2b)
    inter = F.when((xr < xl) | (yb < yt), F.lit(0.0)).otherwise(
        (xr - xl) * (yb - yt)
    )
    a1 = (x2a - x1a) * (y2a - y1a)
    a2 = (x2b - x1b) * (y2b - y1b)
    union = a1 + a2 - inter
    return F.when(union <= 0, F.lit(0.0)).otherwise(inter / union)

