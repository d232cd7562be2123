"""The reactive workload: one WebSocket client over the request protocol.

The client speaks the reference's JSON (``CreateAttribute``,
``Transact``, ``Register``, ``Interest``) to ``server.serve_ws``
through ``ws.WsClient``. Rules are built as ``?x`` Plan objects and
shipped with ``plan.wire.plan_to_dict``. Two interests ride one edge
stream, one on each maintenance path:

- ``triangles``: a three-way ``Hector``, maintained by ``DeltaJoin``;
- ``outdeg``: ``COUNT`` over a plain ``MatchA``, which routes to
  recompute plus ``exceptAll``.

Every epoch transacts 50 retractions of live edges and 50 new edges,
so the state size does not drift with run length. The client folds
every ``QueryDiff`` into a multiset per interest; at the end the folds
are compared with a pure-Python evaluation of each rule over the final
live edge set.
"""

from __future__ import annotations

import bisect
import itertools
import json
import random
from collections import Counter, defaultdict
from dataclasses import dataclass, field

import harness
from harness import now

ATTR = "edge"
ZIPF_S = 1.0
PER_EPOCH = 100  # half retractions of live edges, half new edges
TRACE_SLACK = 1


@dataclass
class Config:
    nodes: int = 300
    edges: int = 1500
    # Each set-up replays both interests (~5 s warm); two fit the run
    # budget next to the host probe.
    setups: int = 2
    min_epochs: int = 1
    max_epochs: int = 1 << 30
    # Smoke test only: corrupt one received diff, so the output check
    # must fail.
    plant_wrong_diff: bool = False


def rules() -> dict:
    from declarative_dataflow_spark.plan.plans import (
        Aggregate,
        AggregationFn,
        AttributeBinding as AB,
        Hector,
        MatchA,
    )

    return {
        "triangles": Hector(
            ["?a", "?b", "?c"],
            [AB("?a", ATTR, "?b"), AB("?b", ATTR, "?c"), AB("?a", ATTR, "?c")],
        ),
        "outdeg": Aggregate(
            ["?a", "?b"],
            MatchA("?a", ATTR, "?b"),
            [AggregationFn.COUNT],
            ["?a"],
            ["?b"],
        ),
    }


def expected(live: set[tuple[int, int]]) -> dict[str, Counter]:
    """Each rule evaluated in pure Python over the live edge set."""

    out_adj: dict[int, set[int]] = defaultdict(set)
    for a, b in live:
        out_adj[a].add(b)
    triangles = Counter(
        (a, b, c)
        for a, bs in out_adj.items()
        for b in bs
        for c in out_adj.get(b, ())
        if c in bs
    )
    degree = Counter({(a, len(bs)): 1 for a, bs in out_adj.items()})
    return {"triangles": triangles, "outdeg": degree}


class EdgeStream:
    """Seeded directed-edge stream with Zipf-skewed endpoints."""

    def __init__(self, seed: int, cfg: Config):
        self.rng = random.Random(seed)
        self.cfg = cfg
        weights = [1.0 / (i + 1) ** ZIPF_S for i in range(cfg.nodes)]
        self.cum = list(itertools.accumulate(weights))
        # Node ids are shuffled so hot nodes are not the small ids.
        self.ids = list(range(cfg.nodes))
        self.rng.shuffle(self.ids)
        self.live: set[tuple[int, int]] = set()
        while len(self.live) < cfg.edges:
            edge = self._draw()
            if edge is not None:
                self.live.add(edge)

    def _node(self) -> int:
        x = self.rng.random() * self.cum[-1]
        return self.ids[bisect.bisect_right(self.cum, x)]

    def _draw(self):
        a, b = self._node(), self._node()
        return None if a == b else (a, b)

    def next_epoch(self) -> tuple[list, list]:
        half = PER_EPOCH // 2
        removed = self.rng.sample(sorted(self.live), half)
        self.live.difference_update(removed)
        added: list[tuple[int, int]] = []
        while len(added) < half:
            edge = self._draw()
            if edge is not None and edge not in self.live and edge not in added:
                added.append(edge)
        self.live.update(added)
        return removed, added


def datom(edge: tuple[int, int], diff: int) -> list:
    return [{"Eid": edge[0]}, ATTR, {"Eid": edge[1]}, None, diff]


class Client:
    """Closed-loop protocol client: one request batch in flight."""

    def __init__(self, port: int):
        from declarative_dataflow_spark.ws import WsClient

        self.ws = WsClient("127.0.0.1", port)
        self.folds: dict[str, Counter] = defaultdict(Counter)
        self.errors: list[str] = []
        self.attempted = 0
        self.plant = False

    def call(self, requests: list) -> tuple[float, int]:
        """Send one batch; return (seconds until the reply arrived,
        diff rows in it). The reply is folded after the clock stops."""

        self.attempted += 1
        t0 = now()
        self.ws.send_text(json.dumps(requests))
        reply = self.ws.recv_text()
        elapsed = now() - t0
        if reply is None:
            raise ConnectionError("server closed the connection")
        rows = 0
        for out in json.loads(reply):
            if "QueryDiff" in out:
                name, diffs = out["QueryDiff"]
                if self.plant and diffs:
                    diffs[0] = diffs[0][:-1] + [-diffs[0][-1]]
                    self.plant = False
                fold = self.folds[name]
                for r in diffs:
                    key = tuple(r[:-2])
                    fold[key] += r[-1]
                    if fold[key] == 0:
                        del fold[key]
                rows += len(diffs)
            elif "Error" in out:
                self.errors.append(out["Error"])
        return elapsed, rows

    def close(self) -> None:
        self.ws.close()


@dataclass
class Setup:
    spark: object
    server: object
    listener: object
    client: Client
    stream: EdgeStream
    seconds: float
    first_diff: float
    phases: dict = field(default_factory=dict)

    def close(self) -> None:
        self.client.close()
        self.listener.shutdown()
        self.listener.server_close()


def set_up(seed: int, cfg: Config, previous, started: float, tracer) -> Setup:
    """Session start, seeding, attribute and rule registration, and
    the interests' replays."""

    from declarative_dataflow_spark.plan.wire import plan_to_dict
    from declarative_dataflow_spark.server import Server, serve_ws

    stream = EdgeStream(seed, cfg)  # harness data: outside the clock
    initial = sorted(stream.live)
    t0 = now() if started is None else started
    phases = {}
    with tracer.span("setup.session") as sp:
        if previous is not None:
            previous.close()
        spark = harness.start_session(previous.spark if previous else None)
        server = Server(spark)
        listener, _thread, port = serve_ws(server)
        client = Client(port)
    phases["session"] = sp
    with tracer.span("setup.seed") as sp:
        config = {"input_semantics": "Raw", "trace_slack": TRACE_SLACK}
        client.call([{"CreateAttribute": {"name": ATTR, "config": config}}])
        client.call([{"Transact": [datom(e, 1) for e in initial]}])
    phases["seed"] = sp
    with tracer.span("setup.register") as sp:
        plans = rules()
        client.call(
            [
                {
                    "Register": {
                        "rules": [
                            {"name": n, "plan": plan_to_dict(p)}
                            for n, p in plans.items()
                        ],
                        "publish": list(plans),
                    }
                }
            ]
        )
    phases["register"] = sp
    # The interests' replays are the warm-up: they run the engine,
    # compile and emit paths the epochs use. Untimed extra epochs per
    # set-up did not pay for their share of the run budget.
    first_diff = None
    with tracer.span("setup.warm") as sp:
        for name in plans:
            elapsed, _ = client.call([{"Interest": {"name": name}}])
            if first_diff is None:
                first_diff = elapsed
    phases["warm"] = sp
    return Setup(
        spark, server, listener, client, stream, now() - t0, first_diff, phases
    )


def routing(server) -> dict[str, str]:
    """Which maintenance path each interest took."""

    return {
        name: type(sub.delta_join).__name__ if sub.delta_join else "recompute"
        for name, sub in server.session.interests.items()
    }


def state_rows(server) -> int:
    """Snapshot rows held by the DeltaJoin maintainers, counted untimed."""

    return sum(
        snap.count()
        for sub in server.session.interests.values()
        if sub.delta_join is not None
        for snap in sub.delta_join.snapshots.values()
    )


def check(client: Client, live: set) -> list[str]:
    """Names of the interests whose folded diffs disagree with the
    pure-Python evaluation."""

    want = expected(live)
    bad = []
    for name, exp in want.items():
        got = Counter({k: v for k, v in client.folds[name].items() if v})
        if got != exp:
            bad.append(name)
    return bad


def run(seed: int, seconds: float, cfg: Config, tracer, started: float) -> dict:
    setups: list[Setup] = []
    prev = None
    for i in range(cfg.setups):
        with tracer.span("setup", rep=i):
            prev = set_up(seed, cfg, prev, started if i == 0 else None, tracer)
        setups.append(prev)
    s = setups[-1]
    spark = s.spark
    context = harness.run_context(spark)
    context["routing"] = routing(s.server)
    timeline = {"setups": now() - started}
    context["probe_before_s"] = harness.host_probe(spark)
    timeline["probe_before"] = now() - started

    latencies: list[float] = []
    diff_rows: list[int] = []
    tags: list[str] = []
    t_begin = now()
    epoch = 0
    s.client.plant = cfg.plant_wrong_diff
    while (
        now() - t_begin < seconds or epoch < cfg.min_epochs
    ) and epoch < cfg.max_epochs:
        removed, added = s.stream.next_epoch()
        batch = [datom(e, -1) for e in removed] + [datom(e, 1) for e in added]
        tag = f"e{epoch}"
        tracer.tag = tag
        try:
            elapsed, rows = s.client.call([{"Transact": batch}])
        except Exception as exc:  # noqa: BLE001 - a failed operation
            s.client.errors.append(f"{type(exc).__name__}: {exc}")
            break
        latencies.append(elapsed)
        diff_rows.append(rows)
        tags.append(tag)
        epoch += 1
    wall = now() - t_begin
    tracer.tag = "end"
    peak = harness.peak_rss_mb(spark)
    timeline["timed"] = now() - started
    context["load1_after"] = harness.run_context(spark)["load1"]

    datoms = PER_EPOCH * len(latencies)
    mismatched = check(s.client, s.stream.live)
    timeline["check"] = now() - started
    context["timeline_s"] = timeline
    rows_held = state_rows(s.server) if tracer.enabled else 0
    s.close()
    attempted = sum(x.client.attempted for x in setups)
    attempted += len(rules())  # one output check per interest
    errors = [e for x in setups for e in x.client.errors]
    return {
        "spark": spark,
        "context": context,
        "attempted": attempted,
        "failed": len(errors) + len(mismatched),
        "errors": errors[:5],
        "mismatched": mismatched,
        "latencies": latencies,
        "diff_rows": diff_rows,
        "tags": tags,
        "wall": wall,
        "datoms": datoms,
        "peak_rss_mb": peak,
        "setup_s": [x.seconds for x in setups],
        "first_diff_s": [x.first_diff for x in setups],
        "phases": [
            {k: sp["end"] - sp["start"] for k, sp in x.phases.items()}
            for x in setups
        ],
        "state_rows": rows_held,
    }
