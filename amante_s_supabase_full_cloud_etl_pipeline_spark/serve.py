"""BI serving surface (SURVEY.md §2.1 S10): the reference serves its
star schema to Power BI through PostgreSQL; this engine serves the
same query surface through Spark SQL views and — when the Hive
Thrift classes are on the classpath, as they are in every full Spark
distribution — a real in-process HiveServer2 endpoint that any
JDBC/ODBC BI client (Power BI's Spark connector speaks exactly this
protocol) can query.

``create_serving_views`` registers every registry query as a named
view (plus the base tables), so any SQL client — a notebook,
``spark.sql``, or a Thrift/JDBC session — can
``SELECT * FROM global_temp.serve_a4_a7_headline_kpis`` without
touching the Python API. Views are lazy logical plans: each SELECT re-optimizes
with the caller's predicates on top (Catalyst pushes them into the
underlying plan), which is exactly what a BI slicer needs.

The views are GLOBAL temp views (``global_temp.*``): Thrift
connections get their own Spark session inside the same context, and
global temp views are the session-crossing mechanism — a plain temp
view would be invisible to JDBC clients.

Deployment recipes (the production forms of what
:func:`start_thrift_endpoint` does in-process):

- **Thrift/JDBC (Power BI, Tableau, beeline)**::

      $SPARK_HOME/sbin/start-thriftserver.sh \\
          --master <cluster-master> \\
          --conf spark.sql.warehouse.dir=<warehouse> \\
          --hiveconf hive.server2.thrift.port=10000

  then register the serving views from a bootstrap job (this module)
  or persist them as metastore views (``CREATE VIEW``), and point the
  BI tool's Spark/Hive connector at ``jdbc:hive2://host:10000``.

- **Spark Connect (modern clients)**::

      $SPARK_HOME/sbin/start-connect-server.sh --master <master>

  then ``SparkSession.builder.remote("sc://host:15002")`` from any
  client with ``grpcio`` installed. This leg IS executed in tests
  despite the container having no grpc stack:
  ``connect_client.py`` speaks gRPC-over-HTTP/2 from stdlib sockets
  to the in-process ``SparkConnectService`` (the jar ships in every
  full distribution), and ``tests/test_connect_serve.py`` runs
  Config and ExecutePlan RPCs end-to-end — Arrow results from the
  ``global_temp.serve_*`` views, value-equal to the in-session
  answer. Connect sessions are isolated like Thrift ones, so global
  temp views are the crossing mechanism for both.
"""

from __future__ import annotations

import socket

from pyspark.sql import SparkSession

from . import catalog, registry


def create_serving_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register base tables + every registry query (as ``serve_<name>``)
    as global temp views — Thrift/JDBC and Connect clients run in
    separate sessions — and return the ``global_temp.``-qualified
    view names."""
    registry.load_all_queries()
    catalog.register_views(spark, sf_dir, scope="global")
    names = []
    for name, fn in registry.QUERIES.items():
        fn(spark, sf_dir).createOrReplaceGlobalTempView(f"serve_{name}")
        names.append(f"global_temp.serve_{name}")
    return names


def start_thrift_endpoint(
    spark: SparkSession, port: int = 0, host: str = "127.0.0.1"
):
    """Start an in-process HiveServer2 Thrift endpoint on this
    session's context and return ``(jdbc_url, server)`` — the
    single-node form of ``start-thriftserver.sh`` (see module
    docstring for the cluster recipe). ``port=0`` picks a free port.
    Clients address the serving views as ``global_temp.serve_*``.
    Call ``server.stop()`` to shut down.

    Raises RuntimeError when the distribution lacks the
    hive-thriftserver classes (pip minimal builds)."""
    if port == 0:
        with socket.socket() as s:
            s.bind((host, 0))
            port = s.getsockname()[1]
    spark.conf.set("hive.server2.thrift.port", str(port))
    spark.conf.set("hive.server2.thrift.bind.host", host)
    try:
        server = (
            spark._jvm.org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
            .startWithContext(spark._jsparkSession.sqlContext())
        )
    except Exception as exc:  # py4j surfaces missing classes lazily
        raise RuntimeError(
            "hive-thriftserver classes not on the classpath — use a full "
            "Spark distribution or start-thriftserver.sh"
        ) from exc
    return f"jdbc:hive2://{host}:{port}/default", server
