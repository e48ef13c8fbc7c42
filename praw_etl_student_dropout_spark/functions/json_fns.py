"""JSON expressions (SURVEY.md §2.8 F9).

The ``events.props`` fixture column is a JSON string (e.g. ``{"k": 87}``).
``get_json_object`` handles ad-hoc paths; ``from_json`` with an explicit
schema is the scale path (parsed once into a struct column, then pruned
like any other nested column).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def json_get(col: Column, path: str) -> Column:
    """Extract a JSON path as string (cast at call site)."""
    return F.get_json_object(col, path)

