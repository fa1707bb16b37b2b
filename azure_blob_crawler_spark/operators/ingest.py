"""Work-item ingestion: the reference's Service-Bus message wire formats →
typed (container, blob) rows.

The reference accepts three JSON shapes on its queue
(shared/services/servicebus_processor.py:181-203):

1. Event Grid event ARRAY   — ``[{"data": {"url": "https://acct/.../blob"}}]``
   (first element wins)
2. direct dict              — ``{"blob_name": ..., "container_name": ...}``
3. single Event Grid event  — ``{"data": {"url": ...}}``

Blob URLs parse by stripping the literal ``https://`` prefix and splitting
on ``/``: part[1] = container, parts[2:] joined = blob name
(servicebus_processor.py:186-191). Messages that are invalid JSON or missing
blob info are *completed without processing* (dropped) — same here: they
simply produce no row (:175-179, :205-209).

Everything is Catalyst-native (``get_json_object`` + string expressions), so
the parse is codegen'd JVM-side and has an exact DuckDB twin for the
correctness oracle (q_workitem_parse).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _blob_parts(url: Column) -> tuple[Column, Column, Column]:
    """(container, blob_name, valid) from a blob URL, reference rule:
    strip 'https://', split on '/', need ≥3 parts."""
    rest = F.regexp_replace(url, "^https://", "")
    parts = F.split(rest, "/")
    valid = url.isNotNull() & (F.size(parts) >= 3)
    container = F.element_at(parts, 2)
    blob = F.array_join(F.slice(parts, 3, 1_000_000), "/")
    return container, blob, valid


def parse_work_items(msgs: DataFrame, body_col: str = "body") -> DataFrame:
    """Parse queue message bodies into work items.

    Input: any DataFrame with a JSON-string ``body_col`` (other columns pass
    through). Output: pass-through columns + (container_name, blob_name,
    msg_format); unparseable messages are dropped."""
    body = F.col(body_col)
    arr_url = F.get_json_object(body, "$[0].data.url")
    direct_blob = F.get_json_object(body, "$.blob_name")
    direct_container = F.get_json_object(body, "$.container_name")
    single_url = F.get_json_object(body, "$.data.url")

    a_cont, a_blob, a_ok = _blob_parts(arr_url)
    s_cont, s_blob, s_ok = _blob_parts(single_url)
    direct_ok = direct_blob.isNotNull() & direct_container.isNotNull()

    # precedence mirrors the reference's if/elif chain: array → direct → single
    fmt = (
        F.when(a_ok, F.lit("event_grid_array"))
        .when(direct_ok, F.lit("direct"))
        .when(s_ok, F.lit("event_grid_single"))
    )
    container = F.when(a_ok, a_cont).when(direct_ok, direct_container).when(s_ok, s_cont)
    blob = F.when(a_ok, a_blob).when(direct_ok, direct_blob).when(s_ok, s_blob)
    out = (
        msgs.withColumn("msg_format", fmt)
        .withColumn("container_name", container)
        .withColumn("blob_name", blob)
    )
    return out.filter(F.col("msg_format").isNotNull())


def workitem_parse_sql(body_expr: str, dialect: str = "duckdb") -> dict[str, str]:
    """DuckDB fragments mirroring ``parse_work_items`` (oracle twin).

    Returns {'msg_format': ..., 'container_name': ..., 'blob_name': ...}
    scalar SQL over ``body_expr``."""
    assert dialect == "duckdb"

    def parts(url: str) -> tuple[str, str, str]:
        rest = f"regexp_replace({url}, '^https://', '')"
        split = f"string_split({rest}, '/')"
        ok = f"({url} is not null and len({split}) >= 3)"
        cont = f"{split}[2]"
        blob = f"array_to_string({split}[3:], '/')"
        return cont, blob, ok

    a_url = f"json_extract_string({body_expr}, '$[0].data.url')"
    s_url = f"json_extract_string({body_expr}, '$.data.url')"
    d_blob = f"json_extract_string({body_expr}, '$.blob_name')"
    d_cont = f"json_extract_string({body_expr}, '$.container_name')"
    a_cont, a_blob, a_ok = parts(a_url)
    s_cont, s_blob, s_ok = parts(s_url)
    d_ok = f"({d_blob} is not null and {d_cont} is not null)"
    return {
        "msg_format": (
            f"case when {a_ok} then 'event_grid_array' "
            f"when {d_ok} then 'direct' "
            f"when {s_ok} then 'event_grid_single' end"
        ),
        "container_name": (
            f"case when {a_ok} then {a_cont} when {d_ok} then {d_cont} "
            f"when {s_ok} then {s_cont} end"
        ),
        "blob_name": (
            f"case when {a_ok} then {a_blob} when {d_ok} then {d_blob} "
            f"when {s_ok} then {s_blob} end"
        ),
    }
