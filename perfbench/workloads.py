"""The workloads. Each drives the program only through public functions
of its modules, from one single-threaded client in a closed loop, times
every operation, and checks outputs after the timed regions.

- ``pipeline_day``: the reference's daily batch (REST pages -> cleaning ->
  date-partitioned append; orders delta -> merge_upsert / snapshot_diff ->
  write-audit-publish; dashboard panel refresh over the published
  warehouse), then the 10-minute stock poll as a stream through the upsert
  sink and its stateful twin. The only workload that writes.
- ``dashboard_serve``: the dashboard and NL->SQL read path: SQL text through
  ``agent.run_sql``, agent questions (prompt, guarded validate, collect) and
  registered panels. Fixed per-call overhead dominates; no writes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from harness import ProgressLog, Tracer, median


@dataclass
class Run:
    """State of one benchmark run, passed to every workload step."""

    seed: int
    seconds: float
    work: str  # scratch directory of this run, removed at exit
    tracer: Tracer
    spark: object = None
    specs: dict = field(default_factory=dict)
    progress: ProgressLog = field(default_factory=ProgressLog)
    wh: str = ""  # staged warehouse the program reads
    op_ms: list[float] = field(default_factory=list)  # per-operation latencies
    cycles_s: list[float] = field(default_factory=list)  # cold cycle first
    values: dict[str, float] = field(default_factory=dict)  # per-layer figures
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def span(self, name: str):
        return self.tracer.span(name)

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.errors.append(why)


def _rows_digest(rows) -> str:
    """Order-insensitive digest of collected rows."""
    return hashlib.sha1("\n".join(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()


@dataclass
class Collected:
    """Rows a timed call already brought into this process, in the shape
    ``testing.compare`` reads (``columns`` and ``collect()``), so the check
    compares the very answer that was timed instead of re-running it."""

    columns: list[str]
    rows: list

    def collect(self) -> list:
        return self.rows


def _frame_digest(pdf) -> str:
    """Order-insensitive digest of a pandas result."""
    import pandas as pd

    h = np.sort(pd.util.hash_pandas_object(pdf, index=False).to_numpy())
    return hashlib.sha1(h.tobytes() + ",".join(pdf.columns).encode()).hexdigest()


def _du(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def stage_warehouse(src: str, dest: str, as_dirs: tuple[str, ...] = ()) -> None:
    """Copy the generated warehouse into ``dest``; tables in ``as_dirs`` become
    one-file parquet directories, the layout a publish can replace."""
    os.makedirs(dest)
    for name in datagen.TABLES:
        f = os.path.join(src, f"{name}.parquet")
        if name in as_dirs:
            os.makedirs(os.path.join(dest, f"{name}.parquet"))
            shutil.copyfile(f, os.path.join(dest, f"{name}.parquet", "part-00000.parquet"))
        else:
            shutil.copyfile(f, os.path.join(dest, f"{name}.parquet"))


class Workload:
    name: str
    sf: float  # warehouse scale factor
    stage_as_dirs: tuple[str, ...] = ()

    def generate(self, run: Run) -> str:
        """Write the seeded inputs under the run's scratch dir (untimed)."""
        gen = os.path.join(run.work, "gen")
        datagen.write_fixture(gen, self.sf, run.seed)
        return gen

    def measure(self, run: Run) -> None:
        raise NotImplementedError

    def check(self, run: Run) -> None:
        raise NotImplementedError


# ---------------------------------------------------------------- pipeline_day

class PipelineDay(Workload):
    name = "pipeline_day"
    sf = 0.01
    stage_as_dirs = ("orders",)
    PAGES, PAGE_SIZE, DELTA_ROWS = 6, 40, 1000
    MIN_DAYS, DAY_SHARE = 2, 0.4  # days run until this share of --seconds
    UPSERT_KEYS, UPSERT_POLLS = 500, 21
    STATEFUL_KEYS, STATEFUL_POLLS = 50, 3
    PANELS = ("flagship_daily_topk_delta", "w_latest_per_key", "i_latest_state_view")
    KEYS = ["o_orderkey"]
    COMPARE = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]

    def generate(self, run: Run) -> str:
        gen = super().generate(run)
        self.inbox = os.path.join(run.work, "inbox")
        os.makedirs(self.inbox)
        self.current = pq.read_table(os.path.join(gen, "orders.parquet"))
        self.n_cust = int(pc.max(pq.read_table(os.path.join(gen, "customer.parquet"))["c_custkey"]).as_py()) + 1
        self.gen = gen
        self.days: list[datagen.DayPlan] = []
        self.expected_changes: list[int] = []
        self.changes: list[int] = []  # snapshot_diff's count per day
        self.delta_bytes = self.published_bytes = 0
        self.digests: dict[str, set[str]] = {p: set() for p in self.PANELS}
        return gen

    def _land_day(self, run: Run, day: int) -> tuple[datagen.DayPlan, str]:
        """Generate the day's inputs and put the orders delta on disk; keep
        the expected table state and change count for the checks."""
        plan = datagen.day_plan(run.seed, day, self.PAGES, self.PAGE_SIZE, self.DELTA_ROWS)
        next_key = int(pc.max(self.current["o_orderkey"]).as_py()) + 1
        delta = datagen.orders_delta(self.current, plan, run.seed, self.n_cust, next_key)
        path = os.path.join(self.inbox, f"day{day}.parquet")
        datagen.write_table(delta, path)
        keep = pc.invert(pc.is_in(self.current["o_orderkey"], delta["o_orderkey"]))
        before = self.current.filter(pc.is_in(self.current["o_orderkey"], delta["o_orderkey"]))
        same = before.join(delta, self.KEYS + self.COMPARE, join_type="inner").num_rows
        self.expected_changes.append(delta.num_rows - same)
        self.current = pa.concat_tables([self.current.filter(keep), delta])
        self.days.append(plan)
        return plan, path

    def _day(self, run: Run, plan: datagen.DayPlan, delta_path: str) -> None:
        from boxoffice_spark import io
        from boxoffice_spark.functions.cleaning import coercive_cast, normalize_title
        from boxoffice_spark.operators.upsert import merge_upsert, snapshot_diff

        spark, wh = run.spark, run.wh
        with run.span("sources.page_scan"):
            pages = (
                spark.read.format("paginated_rest")
                .option("page_size", plan.page_size)
                .option("total_rows", plan.total_rows)
                .load()
            )
            with run.span("functions.cleaning"):
                cleaned = pages.select(
                    "target_dt", "rnk",
                    normalize_title("movie_cd").alias("movie_key"),
                    coercive_cast("audi_cnt", "bigint").alias("audi_cnt"),
                    coercive_cast("sales_amt", "double").alias("sales_amt"),
                )
            landed = cleaned.localCheckpoint(eager=True)
        run.values["sources.pages"] = run.values.get("sources.pages", 0) + plan.pages
        before_b, before_f = _du(os.path.join(wh, "boxoffice"))
        with run.span("io.append"):
            io.append(landed, os.path.join(wh, "boxoffice"), ["target_dt"])
        after_b, after_f = _du(os.path.join(wh, "boxoffice"))

        old = spark.read.parquet(os.path.join(wh, "orders.parquet"))
        delta = spark.read.parquet(delta_path)
        with run.span("operators.merge_upsert"):
            merged = merge_upsert(old, delta, self.KEYS).localCheckpoint(eager=True)
        with run.span("operators.snapshot_diff"):
            changes = snapshot_diff(old, merged, self.KEYS, self.COMPARE).count()
        expected_rows = self.current.num_rows

        def row_count_audit(staged):
            n = staged.count()
            return n == expected_rows, f"{n} rows, expected {expected_rows}"

        with run.span("io.publish"):
            published = io.write_audit_publish(
                merged, os.path.join(wh, "orders.parquet"), [row_count_audit]
            )
        pub_b, pub_f = _du(os.path.join(wh, "orders.parquet"))
        with run.span("queries.refresh"):
            for name in self.PANELS:
                with run.span("queries.panel_build"):
                    df = run.specs[name].fn(spark, wh)
                with run.span("queries.panel_exec"):
                    pdf = df.toPandas()
                self.digests[name].add(_frame_digest(pdf))

        v = run.values
        v["io.bytes_written"] = v.get("io.bytes_written", 0) + (after_b - before_b) + pub_b
        v["io.files_written"] = v.get("io.files_written", 0) + (after_f - before_f) + pub_f
        self.published_bytes += pub_b
        self.delta_bytes += os.path.getsize(delta_path)
        self.changes.append(changes)
        if not published["published"]:
            run.fail(1, f"day {plan.day}: publish refused: {published['audit_results']}")

    def measure(self, run: Run) -> None:
        from boxoffice_spark.streaming.stateful import latest_stock_state, stream_upsert_sink

        t_start = time.perf_counter()
        day = 0
        while day < self.MIN_DAYS or time.perf_counter() - t_start < self.DAY_SHARE * run.seconds:
            plan, delta_path = self._land_day(run, day)
            t0 = time.perf_counter()
            self._day(run, plan, delta_path)
            run.cycles_s.append(time.perf_counter() - t0)
            run.attempted += 2 + len(self.PANELS)  # ingest, merge+publish, panels
            day += 1

        run.progress.take()
        ne, nt = datagen.stock_shape(run.seed, self.UPSERT_KEYS)
        self.stock = (ne, nt, self.UPSERT_POLLS)
        state_path = os.path.join(run.wh, "goods_stock_state")
        with run.span("streaming.upsert"):
            self.upsert_state = stream_upsert_sink(spark=run.spark, path=state_path, n_events=ne,
                                                   n_theaters=nt, max_polls=self.UPSERT_POLLS)
        upsert = self._batches(run, "upsert")
        run.values["io.state_bytes_per_poll"] = _du(state_path)[0]
        ne2, nt2 = datagen.stock_shape(run.seed + 1, self.STATEFUL_KEYS)
        self.stateful_shape = (ne2, nt2, self.STATEFUL_POLLS)
        with run.span("streaming.stateful"):
            state = latest_stock_state(run.spark, n_events=ne2, n_theaters=nt2,
                                       max_polls=self.STATEFUL_POLLS)
            self.stateful_state = Collected(state.columns, state.collect())
        stateful = self._batches(run, "stateful")
        run.op_ms.extend(e["ms"]["triggerExecution"] for e in upsert[1:])
        run.attempted += len(upsert) + len(stateful)
        rows = sum(d.n_updates + d.n_new for d in self.days)
        run.values["operators.changed_ratio"] = sum(self.changes) / rows
        run.values["io.write_amp"] = self.published_bytes / self.delta_bytes

    def _batches(self, run: Run, kind: str) -> list[dict]:
        time.sleep(0.3)  # let the listener bus deliver the last progress event
        events = run.progress.take()
        rest = events[1:]
        v = run.values
        v[f"streaming.{kind}.batches"] = len(events)
        v[f"streaming.{kind}.batch_ms"] = median([e["ms"]["triggerExecution"] for e in rest])
        v[f"streaming.{kind}.add_batch_ms"] = median([e["ms"].get("addBatch", 0) for e in rest])
        if kind == "upsert":
            v["streaming.upsert.first_batch_ms"] = events[0]["ms"]["triggerExecution"] if events else 0
            v["streaming.upsert.planning_ms"] = median([e["ms"].get("queryPlanning", 0) for e in rest])
            v["streaming.upsert.commit_ms"] = median(
                [e["ms"].get("walCommit", 0) + e["ms"].get("commitOffsets", 0) for e in rest])
            v["sources.stream_offset_ms"] = median(
                [e["ms"].get("latestOffset", 0) + e["ms"].get("getBatch", 0) for e in rest])
        else:
            v["streaming.stateful.state_rows"] = events[-1]["state_rows"] if events else 0
            v["streaming.stateful.state_mem_bytes"] = events[-1]["state_mem"] if events else 0
        return events

    def check(self, run: Run) -> None:
        from boxoffice_spark.sources.rest_source import page_scan_oracle_sql
        from boxoffice_spark.testing import compare, duckdb_connect

        spark, wh, n_days = run.spark, run.wh, len(self.days)
        con = duckdb_connect(self.gen)
        # 1. the published orders equal a last-writer-wins replay of base + deltas
        parts = [f"SELECT *, 0 AS _day FROM read_parquet('{self.gen}/orders.parquet')"] + [
            f"SELECT *, {d + 1} AS _day FROM read_parquet('{self.inbox}/day{d}.parquet')"
            for d in range(n_days)
        ]
        replay = (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
            "FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY _day DESC) AS rn "
            f"FROM ({' UNION ALL '.join(parts)})) WHERE rn = 1"
        )
        r = compare("published_orders", spark.read.parquet(f"{wh}/orders.parquet"), con, replay)
        if not r.ok:
            run.fail(n_days, str(r))
        if self.changes != self.expected_changes:
            run.fail(n_days, f"snapshot_diff changes {self.changes} != {self.expected_changes}")
        # 2. the appended pages equal the source's oracle, cleaned, once per day
        pages = " UNION ALL ".join(
            f"SELECT target_dt, rnk, lower(movie_cd) AS movie_key, audi_cnt, sales_amt "
            f"FROM ({page_scan_oracle_sql(d.total_rows)})" for d in self.days
        )
        r = compare("appended_pages", spark.read.parquet(f"{wh}/boxoffice"), con, pages)
        if not r.ok:
            run.fail(n_days, str(r))
        # 3. each panel matches its registry oracle on the final warehouse
        #    (the panels read only standing tables, so every day's answer is
        #    the same one)
        for name in self.PANELS:
            df = run.specs[name].fn(spark, wh)
            r = compare(name, df, con, run.specs[name].oracle)
            if not r.ok or len(self.digests[name]) != 1:
                run.fail(n_days, f"{r} ({len(self.digests[name])} distinct daily answers)")
        # 4. both stock streams end at the last poll of every key
        for kind, got, (ne, nt, polls) in (
            ("upsert", self.upsert_state, self.stock),
            ("stateful", self.stateful_state, self.stateful_shape),
        ):
            p = polls - 1
            last_poll = (
                "SELECT CAST(e AS INT) AS event_id, "
                "'theater_' || lpad(CAST(t AS VARCHAR), 2, '0') AS theater_name, "
                f"CAST(greatest(0, 50 - ((e * 7 + t * 3 + {p} * 5) % 60)) AS INT) AS quantity, "
                f"TIMESTAMP '2025-07-01 08:00:00' + INTERVAL ({10 * p}) MINUTE AS scraped_at "
                f"FROM range({ne}) r1(e), range({nt}) r2(t)"
            )
            r = compare(f"stock_{kind}", got, con, last_poll)
            if not r.ok:
                run.fail(polls, str(r))
        con.close()


# ------------------------------------------------------------- dashboard_serve

# Request texts; parameters are drawn from the seed once per run, so a page
# reload repeats the same requests, as a dashboard does.
_DASHBOARD_SQL = [
    # the dashboard's landing query (q_sql_dashboard_load), seeded status/limit
    lambda r: (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "CAST(o_orderdate AS DATE) AS order_dt, o_orderpriority FROM orders "
        f"WHERE o_orderstatus = '{r.choice(['F', 'O', 'P'])}' "
        f"ORDER BY order_dt DESC, o_totalprice ASC, o_orderkey LIMIT {int(r.integers(50, 151))}"
    ),
    lambda r: (
        "SELECT o_orderpriority, count(*) AS n_orders, max(o_totalprice) AS max_price "
        f"FROM orders WHERE o_orderdate >= DATE '{int(r.integers(1995, 2000))}-01-01' "
        f"AND o_orderdate < DATE '{int(r.integers(2000, 2002))}-07-01' "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    lambda r: (
        "SELECT c.c_mktsegment AS segment, count(*) AS n_orders, "
        "count(DISTINCT o.o_custkey) AS n_customers, max(o.o_totalprice) AS max_price "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        f"WHERE c.c_nationkey = {int(r.integers(0, 25))} GROUP BY c.c_mktsegment ORDER BY segment"
    ),
    lambda r: (
        "SELECT l_returnflag, l_linestatus, count(*) AS n_lines, "
        "min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price FROM lineitem "
        f"WHERE l_shipdate >= DATE '{int(r.integers(1995, 2001))}-0{int(r.integers(1, 10))}-01' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    ),
]
# the agent's dialect-rule query (q_sql_agent_dialect), seeded date
_AGENT_SAFE = (
    "SELECT c.c_mktsegment AS segment, count(DISTINCT c.c_custkey) AS n_customers, "
    "count(*) AS n_orders FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
    "WHERE replace(c.c_name, ' ', '') LIKE 'Customer#%' "
    "AND CAST(o.o_orderdate AS DATE) >= DATE '{year}-01-01' "
    "GROUP BY c.c_mktsegment ORDER BY n_orders DESC, segment"
)
# Model-generated SQL the guard must refuse: a missing join predicate and an
# inequality-only join.
_AGENT_UNSAFE = [
    "SELECT n.n_name, c.c_name FROM nation n, customer c WHERE c.c_acctbal > {bal}",
    "SELECT c.c_custkey, s.s_suppkey FROM customer c JOIN supplier s "
    "ON c.c_acctbal < s.s_acctbal WHERE c.c_nationkey = {nation}",
]


@dataclass
class Request:
    kind: str  # "sql", "agent", "agent_unsafe" or "panel"
    key: str  # SQL text or panel name
    question: str = ""


class DashboardServe(Workload):
    name = "dashboard_serve"
    sf = 0.02
    PANELS = ("q_sql_dashboard_load", "q_sql_agent_dialect", "flagship_daily_topk_delta", "w_latest_per_key")

    @staticmethod
    def rng(seed: int) -> np.random.Generator:
        """The generator behind the run's request parameters and page orders."""
        return np.random.default_rng([seed, 7])

    def requests(self, rng: np.random.Generator) -> list[Request]:
        """One dashboard page: four SQL queries, every panel, one agent
        question with safe SQL and one whose SQL the guard must refuse (a
        missing join predicate or an inequality-only join, by seed)."""
        year = int(rng.integers(1995, 2001))
        params = {"bal": int(rng.integers(0, 9000)), "nation": int(rng.integers(0, 25))}
        unsafe = _AGENT_UNSAFE[int(rng.integers(0, len(_AGENT_UNSAFE)))]
        return (
            [Request("sql", make(rng)) for make in _DASHBOARD_SQL]
            + [Request("panel", p) for p in self.PANELS]
            + [Request("agent", _AGENT_SAFE.format(year=year),
                       f"How many customers per market segment ordered since {year}?"),
               Request("agent_unsafe", unsafe.format(**params), "List every customer pair.")]
        )

    def _serve(self, run: Run, req: Request):
        from boxoffice_spark import agent

        spark, wh = run.spark, run.wh
        if req.kind == "sql":
            with run.span("agent.run_sql"):
                df = agent.run_sql(spark, wh, req.key)
            with run.span("agent.sql_exec"):
                return Collected(df.columns, df.collect())
        if req.kind == "panel":
            with run.span("queries.panel_build"):
                df = run.specs[req.key].fn(spark, wh)
            with run.span("queries.panel_exec"):
                return df.toPandas()
        with run.span("agent.prompt"):
            agent.agent_prompt(spark, wh, req.question)
        try:
            with run.span("agent.validate_sql"):
                df = agent.validate_sql(spark, wh, req.key)
        except agent.UnsafePlanError:
            return "refused"
        with run.span("agent.sql_exec"):
            return Collected(df.columns, df.collect())

    def measure(self, run: Run) -> None:
        from boxoffice_spark import agent, tables

        rng = self.rng(run.seed)
        page = self.requests(rng)
        self.answers: dict[tuple[str, str], list[str]] = {}
        self.collected: dict[str, Collected] = {}  # first answer per SQL text
        agent_ms: list[float] = []
        t_start, i = time.perf_counter(), 0
        while i < 2 or time.perf_counter() - t_start < run.seconds:
            if run.tracer.enabled:  # direct per-call probes of the fixed costs
                with run.span("tables.register_views"):
                    tables.register_views(run.spark, run.wh)
                with run.span("agent.schema_grounding"):
                    agent.schema_grounding(run.spark, run.wh)
            t_page = time.perf_counter()
            for req in (page[j] for j in rng.permutation(len(page))):
                t0 = time.perf_counter()
                try:
                    answer = self._serve(run, req)
                except Exception as exc:  # a failed request is counted, the loop goes on
                    answer = f"error: {type(exc).__name__}: {exc}"[:300]
                ms = (time.perf_counter() - t0) * 1000
                if i > 0:  # the first page's first-time costs show in cold_cycle_s
                    run.op_ms.append(ms)
                    if req.kind.startswith("agent"):
                        agent_ms.append(ms)
                if isinstance(answer, Collected):
                    self.collected.setdefault(req.key, answer)
                    answer = _rows_digest(answer.rows)
                elif not isinstance(answer, str):  # a panel's pandas frame
                    answer = _frame_digest(answer)
                self.answers.setdefault((req.kind, req.key), []).append(answer)
                run.attempted += 1
            run.cycles_s.append(time.perf_counter() - t_page)
            i += 1
        run.values["agent.request_ms"] = median(agent_ms)

    def check(self, run: Run) -> None:
        from boxoffice_spark.testing import compare, duckdb_connect

        con = duckdb_connect(run.wh)
        unsafe = refused = 0
        for (kind, key), given in self.answers.items():
            n, answers = len(given), set(given)
            if kind == "agent_unsafe":
                unsafe += n
                refused += given.count("refused")
                if answers != {"refused"}:
                    run.fail(n, f"unsafe SQL not refused: {key} -> {answers}")
                continue
            if len(answers) != 1 or any(a.startswith("error") for a in answers):
                run.fail(n, f"{kind} {key[:80]}: {sorted(answers)[:2]}")
                continue
            if kind == "panel":  # toPandas answers: re-run for compare's row form
                r = compare(key, run.specs[key].fn(run.spark, run.wh), con, run.specs[key].oracle)
            else:
                r = compare(key[:40], self.collected[key], con, key)
            if not r.ok:
                run.fail(n, str(r))
        con.close()
        run.values["agent.refused_ratio"] = refused / unsafe if unsafe else 0.0


WORKLOADS = {w.name: w for w in (PipelineDay, DashboardServe)}
