"""Work-item wire-format parsing (servicebus_processor.py:160-209 parity)."""

import duckdb
import pandas as pd

from azure_blob_crawler_spark.operators.ingest import (
    parse_work_items,
    workitem_parse_sql,
)

MESSAGES = [
    # Event Grid array — first element wins
    ('m1', '[{"data":{"url":"https://acct.blob.core.windows.net/cont1/dir/a.txt"}},'
           '{"data":{"url":"https://acct.blob.core.windows.net/other/b.txt"}}]'),
    # direct format
    ('m2', '{"blob_name":"x/y/z.pdf","container_name":"cdirect"}'),
    # single Event Grid event
    ('m3', '{"data":{"url":"https://acct.blob.core.windows.net/cont3/only.docx"}}'),
    # invalid JSON → dropped (reference completes without processing)
    ('m4', 'not json at all'),
    # valid JSON, no blob info → dropped
    ('m5', '{"something":"else"}'),
    # url with too few parts → dropped
    ('m6', '[{"data":{"url":"https://hostonly"}}]'),
]


def test_parse_work_items(spark):
    df = spark.createDataFrame(MESSAGES, "msg_id string, body string")
    out = {r["msg_id"]: r for r in parse_work_items(df).collect()}
    assert set(out) == {"m1", "m2", "m3"}
    assert out["m1"]["msg_format"] == "event_grid_array"
    assert out["m1"]["container_name"] == "cont1"
    assert out["m1"]["blob_name"] == "dir/a.txt"
    assert out["m2"]["msg_format"] == "direct"
    assert out["m2"]["container_name"] == "cdirect"
    assert out["m2"]["blob_name"] == "x/y/z.pdf"
    assert out["m3"]["msg_format"] == "event_grid_single"
    assert out["m3"]["blob_name"] == "only.docx"


def test_parse_work_items_duckdb_parity(spark):
    """Engine ↔ oracle dialect parity on the valid-JSON messages."""
    valid = [m for m in MESSAGES if m[0] in ("m1", "m2", "m3", "m5", "m6")]
    df = spark.createDataFrame(valid, "msg_id string, body string")
    got = {
        r["msg_id"]: (r["msg_format"], r["container_name"], r["blob_name"])
        for r in parse_work_items(df).collect()
    }
    con = duckdb.connect()
    con.register("msgs", pd.DataFrame(valid, columns=["msg_id", "body"]))
    frags = workitem_parse_sql("body")
    duck = con.sql(
        f"select msg_id, {frags['msg_format']} as f, {frags['container_name']} as c, "
        f"{frags['blob_name']} as b from msgs"
    ).df()
    want = {
        r.msg_id: (r.f, r.c, r.b) for r in duck.itertuples() if r.f is not None
    }
    assert got == want
