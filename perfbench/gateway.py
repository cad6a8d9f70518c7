"""The gateway side of ``etl_sync``: a closed-loop client reading published
snapshots through the whole gateway stack.

Requests are WSGI calls into ``GatewayHTTP`` (in-process, no socket) over
``GatewayFront`` (RS256 ``JwksAuthenticator`` + default ``RateLimiter``)
-> ``SparkQueryEngine`` -> ``SnapshotCatalog``. Responses are checked after
the run against DuckDB over the parquet of the snapshot that served them.
"""

from __future__ import annotations

import itertools
import json
import random
import threading
import time
from urllib.parse import urlencode

from checks import response_problem, snapshot_connection
from common import Context

#: client addresses, used in turn: no address nears the default
#: 50 req/min limit below ~400 req/s
CLIENT_POOL = 512
#: rows admitted by the ``select_columns`` class (validator default)
SCAN_CAP = 10_000


# -- tokens -------------------------------------------------------------------


def make_auth(subjects: int = 8):
    """``(JwksAuthenticator, tokens)``: the test suite's fixed 2048-bit RS256
    key, and tokens signed with it for a few subjects. Verification cost
    depends only on the modulus size, so the key does not follow the seed."""
    from tests.test_gateway import TestRs256, _rsa_keypair

    kp = _rsa_keypair(seed=7, bits=2048)
    signer = TestRs256()
    tokens = [
        signer._token(kp, {"sub": f"user{i}", "exp": time.time() + 3600})
        for i in range(subjects)
    ]
    return signer._auth(kp), tokens


# -- the request mix ------------------------------------------------------------


def request_mix(rng: random.Random, customers: int) -> list[tuple[str, str, str, int]]:
    """One request per admitted query class, parameters from ``rng``:
    ``(kind, sql, how to check, row cap)``."""
    group_col = rng.choice(("o_orderpriority", "o_orderstatus"))
    mix = [
        ("count", "SELECT COUNT(*) FROM lineitem", "exact", 1),
        (
            "aggregate",
            "SELECT SUM(l_quantity) AS qty, AVG(l_extendedprice) AS avg_price "
            f"FROM lineitem WHERE l_discount >= {rng.randrange(0, 11) / 100:.2f}",
            "exact",
            1000,
        ),
        (
            "group_by",
            f"SELECT {group_col}, COUNT(*) AS n, SUM(o_totalprice) AS total "
            f"FROM orders GROUP BY {group_col}",
            "bag",
            5000,
        ),
        (
            "where_clause",
            "SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal FROM customer "
            f"WHERE c_custkey = {rng.randrange(customers)}",
            "exact",
            5000,
        ),
        (
            "order_by",
            "SELECT o_orderkey, ROUND(o_totalprice, 2) AS price FROM orders "
            f"ORDER BY price DESC, o_orderkey LIMIT {rng.randrange(10, 101)}",
            "exact",
            5000,
        ),
        (
            "select_columns",
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
            "subset",
            SCAN_CAP,
        ),
        ("select_all", "SELECT * FROM v_lineitem_summary", "exact", 10000),
    ]
    rng.shuffle(mix)
    return mix


def build_gateway(spark, store: str, auth, ttl_s: float):
    """``(engine, app)``: the WSGI app over the store's current snapshot."""
    from ser_etl_spark.gateway import (
        GatewayFront,
        RateLimiter,
        SnapshotCatalog,
        SparkQueryEngine,
    )
    from ser_etl_spark.gateway.http import GatewayHTTP

    engine = SparkQueryEngine(spark, SnapshotCatalog(spark, store, ttl_s=ttl_s))
    return engine, GatewayHTTP(GatewayFront(engine, auth, RateLimiter()))


class Client:
    """One closed-loop client: sends a request, waits for the reply, sends
    the next. Bodies are kept for checking after the run."""

    def __init__(self, app, catalog, rng, tokens, addresses, mix, tracer=None):
        self.app, self.catalog, self.rng = app, catalog, rng
        self.tokens, self.mix = tokens, mix
        self.addresses = itertools.cycle(addresses)
        self.tracer = tracer
        #: (kind, sql, expect, cap, seconds, status, body, version, t_done)
        self.records: list[tuple] = []

    def request(self, sql: str) -> tuple[int, bytes, float]:
        environ = {
            "REQUEST_METHOD": "GET",
            "PATH_INFO": "/query",
            "QUERY_STRING": urlencode({"q": sql}),
            "HTTP_AUTHORIZATION": f"Bearer {self.rng.choice(self.tokens)}",
            "HTTP_X_FORWARDED_FOR": next(self.addresses),
            "REMOTE_ADDR": "127.0.0.1",
        }
        status: list[str] = []
        t0 = time.perf_counter()
        body = b"".join(self.app(environ, lambda s, h: status.append(s)))
        secs = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.add("gateway.http.ms", secs * 1000.0)
            self.tracer.add("gateway.result.bytes", len(body))
            self.tracer.count_op("request")
        return int(status[0].split()[0]), body, secs

    def one_pass(self, keep: bool = True) -> None:
        """Send the mix once."""
        for kind, sql, expect, cap in self.mix():
            code, body, secs = self.request(sql)
            version = self.catalog.status()["snapshot_version"]
            if keep:
                self.records.append(
                    (kind, sql, expect, cap, secs, code, body, version, time.perf_counter())
                )

    def loop(self, done) -> None:
        """Whole passes until ``done()``, at least one."""
        self.one_pass()
        while not done():
            self.one_pass()


def addresses(ctx: Context, name: str) -> list[str]:
    rng = ctx.rng(f"addresses-{name}")
    pool = [f"10.{i // 256}.{i % 256}.{rng.randrange(1, 255)}" for i in range(CLIENT_POOL)]
    rng.shuffle(pool)
    return pool


def check_responses(records, manifests: dict, inject: bool) -> tuple[int, int, list[str]]:
    """``(attempted, failed, problems)`` over every recorded response."""
    problems: list[str] = []
    failed = 0
    cons: dict = {}
    answers: dict = {}
    for i, (kind, sql, expect, cap, _s, code, body, version, _t) in enumerate(records):
        if inject and i == 0:
            body = body.replace(b'"row_count": ', b'"row_count": 1')
        problem = None
        if code != 200:
            problem = f"HTTP {code}: {body[:200]!r}"
        else:
            if version not in cons:
                m = manifests[version]
                cons[version] = snapshot_connection(m["snapshot_dir"], m["views"])
            if (version, sql) not in answers:
                answers[version, sql] = cons[version].execute(sql).fetchall()
            problem = response_problem(json.loads(body), answers[version, sql], expect, cap)
        if problem:
            failed += 1
            problems.append(f"{kind} [{sql}]: {problem}")
    return len(records), failed, problems


def trace_gateway(tracer, engine, app) -> None:
    """Wrap the gateway objects' public methods, and read the status store
    for each request's ``gateway-*`` job group as soon as it is cleared."""
    front = app.front
    tracer.wrap(front, "query", "_front_ms")
    tracer.wrap(front.authenticator, "authenticate", "gateway.access.auth_ms")
    tracer.wrap(front.limiter, "check", "gateway.access.limit_ms")
    tracer.wrap(engine.validator, "validate", "gateway.validator.ms")
    tracer.wrap(
        engine, "execute_query", "gateway.executor.ms",
        after=lambda r: tracer.add("gateway.result.rows", r.row_count),
    )
    last_dir: list = [None]

    def reregistered(snapshot_dir):
        if last_dir[0] is not None and snapshot_dir != last_dir[0]:
            tracer.add("gateway.catalog.reregistrations", 1)
        last_dir[0] = snapshot_dir

    tracer.wrap(engine.catalog, "refresh", "gateway.catalog.refresh_ms", after=reregistered)

    sc = engine.spark.sparkContext
    orig = sc.setJobGroup
    open_groups: dict[int, str] = {}

    def set_job_group(group_id, description, *args, **kwargs):
        me = threading.get_ident()
        if group_id.startswith("gateway-"):
            open_groups[me] = group_id
        elif me in open_groups:
            stats = tracer.group_stats(open_groups.pop(me))
            tracer.add("gateway.executor.spark_ms", stats["spark_ms"])
            tracer.add("gateway.executor.jobs", stats["jobs"])
            tracer.add("gateway.executor.tasks", stats["tasks"])
        return orig(group_id, description, *args, **kwargs)

    tracer.patch(sc, "setJobGroup", set_job_group)


def finish_trace(tracer) -> dict[str, float]:
    """Per-layer metrics; the HTTP layer's own time (routing and JSON
    encoding) is its span minus the front's."""
    tracer.active = False
    tracer.sums["gateway.http.encode_ms"] = (
        tracer.sums["gateway.http.ms"] - tracer.sums["_front_ms"]
    )
    tracer.unwrap_all()
    return tracer.metrics()

