"""EXECUTED Spark Connect serving leg (SURVEY §2.1 S10, VERDICT r6
missing #4): the in-process Connect gRPC server, driven by the
pure-stdlib HTTP/2 transport in connect_client.py. Request protobufs
are built — and responses parsed — with the server's own generated
classes via py4j (the authoritative codec; see connect_client module
doc for the layering rationale). The ExecutePlan leg decodes the
returned Arrow stream with pyarrow and compares it value-for-value
against the same query run directly on the session."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pytest

from amante_s_supabase_full_cloud_etl_pipeline_spark.connect_client import (
    _DATA,
    _HEADERS,
    _PADDED,
    _PRIORITY,
    GrpcCallError,
    _frame_body,
    grpc_call,
    start_connect_server,
    stop_connect_server,
)

_HOST = "127.0.0.1"


@pytest.fixture(scope="module")
def connect_port(spark):
    try:
        port = start_connect_server(spark)
    except Exception as exc:
        # skip ONLY for genuine unavailability (pip-minimal distro
        # without the connect jar) — any other startup failure must
        # FAIL, or the executed-leg claim silently stops being true
        if "ClassNotFound" in str(exc) or "NoClassDefFound" in str(exc):
            pytest.skip(f"spark-connect classes unavailable: {exc}")
        raise
    yield port
    try:
        stop_connect_server(spark)
    except Exception:
        pass  # teardown best-effort: the session is shared


def _proto(spark):
    return spark._jvm.org.apache.spark.connect.proto


def _base_request(spark, builder):
    builder.setSessionId(str(uuid.uuid4()))
    uc = _proto(spark).UserContext.newBuilder()
    uc.setUserId("pytest")
    builder.setUserContext(uc)
    return builder


def test_config_rpc(spark, connect_port):
    """Unary RPC: ConfigRequest(get spark.app.name) round-trips and
    returns the real session conf value."""
    proto = _proto(spark)
    b = _base_request(spark, proto.ConfigRequest.newBuilder())
    op = proto.ConfigRequest.Operation.newBuilder()
    get = proto.ConfigRequest.Get.newBuilder()
    get.addKeys("spark.app.name")
    op.setGet(get)
    b.setOperation(op)
    msgs = grpc_call(
        _HOST,
        connect_port,
        "/spark.connect.SparkConnectService/Config",
        bytes(b.build().toByteArray()),
    )
    assert len(msgs) == 1
    resp = proto.ConfigResponse.parseFrom(msgs[0])
    pairs = {p.getKey(): p.getValue() for p in resp.getPairsList()}
    assert pairs["spark.app.name"] == spark.conf.get("spark.app.name")


def _execute_sql(spark, port, query):
    """ExecutePlan(SQL) → pyarrow Table assembled from the streamed
    arrow_batch messages."""
    proto = _proto(spark)
    b = _base_request(spark, proto.ExecutePlanRequest.newBuilder())
    sql = proto.SQL.newBuilder()
    sql.setQuery(query)
    rel = proto.Relation.newBuilder()
    rel.setSql(sql)
    plan = proto.Plan.newBuilder()
    plan.setRoot(rel)
    b.setPlan(plan)
    msgs = grpc_call(
        _HOST,
        port,
        "/spark.connect.SparkConnectService/ExecutePlan",
        bytes(b.build().toByteArray()),
        timeout=120.0,
    )
    tables = []
    for m in msgs:
        resp = proto.ExecutePlanResponse.parseFrom(m)
        if resp.hasArrowBatch():
            # getData() is a protobuf ByteString → materialize as bytes
            data = bytes(resp.getArrowBatch().getData().toByteArray())
            with pa.ipc.open_stream(data) as reader:
                tables.append(reader.read_all())
    # (ResultComplete is only emitted for REATTACHABLE executions;
    # a plain ExecutePlan stream simply half-closes after the final
    # metrics message — observed against the live server)
    assert tables, "no arrow batches in ExecutePlan response"
    return pa.concat_tables(tables)


def test_execute_plan_serves_registry_view(
    spark, connect_port, global_serving_views
):
    """The serving contract end-to-end over Connect: global serving
    views registered by serve.py, queried via ExecutePlan from the
    stdlib transport, Arrow results equal to the direct in-session
    answer. Connect sessions are ISOLATED from the creating session —
    global temp views are exactly the crossing mechanism (the same
    reason the Thrift leg reads them)."""
    q = (
        "SELECT region_name, net_sales, line_items "
        "FROM global_temp.serve_star_net_sales_by_region "
        "ORDER BY region_name"
    )
    got = _execute_sql(spark, connect_port, q).to_pylist()
    want = [r.asDict() for r in spark.sql(q).collect()]
    assert got == want
    assert len(got) == 5  # five regions


def test_error_surfaces_grpc_status(spark, connect_port):
    """Self-review r7: a failing ExecutePlan must raise with the
    trailer's grpc-status instead of returning an empty (or partial)
    message list as success."""
    with pytest.raises(GrpcCallError, match="grpc-status"):
        _execute_sql(
            spark, connect_port, "SELECT * FROM definitely_missing_table_xyz"
        )


def test_frame_body_strips_padding_and_priority():
    """ADVICE r7: a PADDED DATA frame spliced verbatim would inject
    the pad-length byte and padding into the gRPC message stream.
    RFC 9113 §6.1/§6.2 layouts: [padlen][priority?][content][pad]."""
    # unpadded passthrough
    assert _frame_body(_DATA, 0, b"abc") == b"abc"
    # PADDED DATA: padlen=2, content 'abc', 2 pad octets
    assert _frame_body(_DATA, _PADDED, b"\x02abc\x00\x00") == b"abc"
    # zero-length padding is legal
    assert _frame_body(_DATA, _PADDED, b"\x00abc") == b"abc"
    # PADDED+PRIORITY HEADERS: padlen byte, 5-byte priority, block, pad
    payload = b"\x01" + b"\x00\x00\x00\x02\x10" + b"HB" + b"\x00"
    assert _frame_body(_HEADERS, _PADDED | _PRIORITY, payload) == b"HB"
    # PRIORITY only applies to HEADERS — a DATA frame with 0x20 set
    # carries no priority block (0x20 is not a DATA flag)
    assert _frame_body(_DATA, _PRIORITY, b"abc") == b"abc"
    # malformed padding is LOUD, never a guess
    with pytest.raises(GrpcCallError, match="PADDED"):
        _frame_body(_DATA, _PADDED, b"\x05ab")
    with pytest.raises(GrpcCallError, match="PADDED"):
        _frame_body(_DATA, _PADDED, b"")
    with pytest.raises(GrpcCallError, match="priority"):
        _frame_body(_HEADERS, _PRIORITY, b"\x00\x00")


def test_large_request_streams_past_initial_window(spark, connect_port):
    """VERDICT r7 #8: a request larger than the h2 default initial
    stream window (65,535 B) must stream out under WINDOW_UPDATE flow
    control instead of failing or stalling. A ~300 KiB SQL text
    guarantees the body exceeds the default window regardless of the
    server's advertised settings."""
    big = "x" * 300_000
    t = _execute_sql(
        spark, connect_port, f"SELECT length('{big}') AS n, 7 AS k"
    )
    assert t.to_pylist() == [{"n": 300_000, "k": 7}]


def test_execute_plan_inline_expression(spark, connect_port):
    """No-view sanity leg: a pure expression query through the same
    path (schema + values)."""
    t = _execute_sql(
        spark, connect_port, "SELECT 1 AS a, 'x' AS b UNION ALL SELECT 2, 'y'"
    )
    assert sorted(t.to_pylist(), key=lambda r: r["a"]) == [
        {"a": 1, "b": "x"},
        {"a": 2, "b": "y"},
    ]
