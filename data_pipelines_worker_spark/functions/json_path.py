"""JSONPath extraction — the reference's upstream-output query language.

Reference: types/dataclasses/block.go:303-365 evaluates JSONPath
(oliveagle/jsonpath dialect) against parsed block outputs; wildcard paths
like ``$.segments[*].text`` fan out into N input rows
(test/unit/json_path_test.go:11-170 fixes the dialect's behavior).

Spark mapping (SURVEY §2.2):

- scalar paths → ``F.get_json_object`` (JVM-side, codegen);
- wildcard ``[*]`` paths → ``from_json`` with an explicit schema followed by
  ``posexplode`` — Spark's get_json_object returns arrays as JSON strings,
  so true fan-out must go through a typed array column. The element *index*
  is semantic (it becomes ``input_index`` for zip/targeting), hence
  posexplode, never explode.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def json_path_scalar(json_col: Column | str, path: str) -> Column:
    """Extract a scalar JSONPath (no wildcard) as a string column."""
    if "[*]" in path:
        raise ValueError("wildcard path needs json_path_array / fan-out")
    col = F.col(json_col) if isinstance(json_col, str) else json_col
    return F.get_json_object(col, path)


def json_path_array(json_col: Column | str, path: str, element_type: str = "string") -> Column:
    """Extract a ``$.a[*].b``-style wildcard path as a typed array column.

    Implemented with ``from_json`` on the enclosing array so Catalyst can
    prune every other field of the document (only ``b`` is parsed).
    """
    col = F.col(json_col) if isinstance(json_col, str) else json_col
    if "[*]" not in path:
        raise ValueError(f"not a wildcard path: {path!r}")
    prefix, suffix = path.split("[*]", 1)
    prefix = prefix[2:].lstrip(".")  # drop '$.'
    suffix = suffix.lstrip(".")
    # Parse only the array under `prefix`, with only field `suffix` of each
    # element (column pruning at parse time).
    arr_json = F.get_json_object(col, f"$.{prefix}") if prefix else col
    if suffix:
        schema = f"array<struct<{suffix}:{element_type}>>"
        parsed = F.from_json(arr_json, schema)
        return F.transform(parsed, lambda x: x[suffix])
    schema = f"array<{element_type}>"
    return F.from_json(arr_json, schema)

