"""dashboard_serving: the reference app's user-facing surface.

One client in a closed loop, as a Flask route handler calls the engine:
train the three MLlib pipelines on the awards view (the job), then a
fixed cycle of dashboard datasets, rollups and single-row inference
requests (reads) and incremental rollup refreshes from new awards batches
(writes). Request parameters (k, agency
filter, feature row) are Zipf-skewed, so popular views repeat.

Every response is checked: dataset rows against DuckDB over the same
generated parquet, inference payloads for shape and repeatability, the
refreshed rollup state against DuckDB over every batch ingested.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import duckdb
import numpy as np

import gen
from common import Context, Run, WriteMeter, layer, timed

NAME = "dashboard_serving"
N_ORDERS = 10_000
N_CUSTOMERS = 1_500
BATCH_ORDERS = 1_000
SETUP_REPS = 3
ROLLUP_KEYS = ["awarding_sub_agency", "month"]
K_CHOICES = (15, 10, 5, 20, 30)
AGENCY_CHOICES = (None,) + gen.REGIONS
# one cycle of the request stream, repeated: the same mix in every run, so
# run-to-run medians compare like with like; the seed draws each request's
# parameters. "refresh" is the incremental rollup write.
CYCLE = (
    "payload", "sankey", "regression", "map", "monthly", "by_month",
    "payload", "by_entity", "refresh", "classification", "by_two_keys",
    "sankey", "by_month", "payload", "map", "clustering", "monthly",
    "refresh",
)
N_FEATURE_ROWS = 24
UNSEEN_SUB_AGENCY = "NATION_99"  # never in training data: inference must refuse

SUM = (
    "CAST(CAST(ROUND(SUM(CAST(award_amount AS DECIMAL(27,6))), 2) AS VARCHAR)"
    " AS DOUBLE)"
)
AWARDS_SQL = """
    SELECT c_name AS recipient_name,
           CAST(o_orderdate AS DATE) AS start_date,
           CAST(o_totalprice AS DECIMAL(18,2)) AS award_amount,
           r_name AS awarding_agency,
           n_name AS awarding_sub_agency
    FROM {orders}
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
"""


def _sort_key(row):
    return tuple((v is not None, v if v is not None else 0) for v in row)


class Oracle:
    """DuckDB answers for every request shape, over the same parquet."""

    def __init__(self, in_dir: str):
        self.con = duckdb.connect()
        for t in ("orders", "customer", "nation", "region"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{t}.parquet')"
            )
        self.con.execute(f"CREATE VIEW aw AS {AWARDS_SQL.format(orders='orders')}")
        self.con.execute(
            "CREATE VIEW rgeo AS SELECT c_name AS recipient_name, "
            "CAST(c_custkey % 180 - 90 + 0.25 AS DOUBLE) AS latitude, "
            "CAST((c_custkey * 7) % 360 - 180 + 0.25 AS DOUBLE) AS longitude "
            "FROM customer WHERE c_custkey % 3 = 0"
        )
        self.con.execute(
            "CREATE VIEW sgeo AS SELECT n_name AS awarding_sub_agency, "
            "CAST(n_nationkey * 3.0 - 30 AS DOUBLE) AS latitude, "
            "CAST(n_nationkey * 7.0 - 80 AS DOUBLE) AS longitude FROM nation"
        )
        self.cache: dict = {}

    def q(self, sql: str) -> list[tuple]:
        return [tuple(r) for r in self.con.execute(sql).fetchall()]

    def expected(self, kind: str, agency, k: int, key: str):
        ck = (kind, agency,
              k if kind in ("payload", "sankey", "map") else None,
              key if kind == "map" else None)
        if ck not in self.cache:
            self.cache[ck] = self._expected(kind, agency, k, key)
        return self.cache[ck]

    def _expected(self, kind, agency, k, key):
        w = f"WHERE awarding_agency = '{agency}'" if agency else ""
        month = "CAST(month(start_date) AS INT)"
        sankey = (
            f"SELECT awarding_sub_agency, recipient_name, {SUM} t FROM aw {w} "
            f"GROUP BY 1, 2 ORDER BY t DESC, 1, 2 LIMIT {k}"
        )
        if kind == "sankey":
            return self.q(sankey)
        if kind == "map":
            geo = "rgeo" if key == "recipient_name" else "sgeo"
            return self.q(
                f"SELECT {key}, latitude, longitude, {SUM} t FROM aw JOIN {geo} "
                f"USING ({key}) {w} GROUP BY 1, 2, 3 ORDER BY t DESC, 1 LIMIT {k}"
            )
        if kind == "monthly":
            return sorted(self.q(
                f"SELECT awarding_sub_agency, {month} m, {SUM} FROM aw {w} "
                "GROUP BY ROLLUP (awarding_sub_agency, m)"
            ), key=_sort_key)
        if kind == "by_entity":
            return sorted(self.q(
                f"SELECT recipient_name, latitude, longitude, {SUM} FROM aw "
                f"JOIN rgeo USING (recipient_name) {w} GROUP BY 1, 2, 3"
            ), key=_sort_key)
        if kind == "by_two_keys":
            return sorted(self.q(
                f"SELECT awarding_sub_agency, recipient_name, {SUM} FROM aw "
                f"JOIN sgeo USING (awarding_sub_agency) {w} GROUP BY 1, 2"
            ), key=_sort_key)
        if kind == "by_month":
            return sorted(self.q(
                f"SELECT awarding_sub_agency, {month}, {SUM} FROM aw "
                f"JOIN sgeo USING (awarding_sub_agency) {w} GROUP BY 1, 2"
            ), key=_sort_key)
        assert kind == "payload", kind
        return {
            "map_recipient_data": self.q(
                f"SELECT recipient_name, latitude, longitude, {SUM} t FROM aw "
                f"JOIN rgeo USING (recipient_name) {w} GROUP BY 1, 2, 3 "
                "ORDER BY t DESC, 1"
            ),
            "map_subagency_data": self.q(
                f"SELECT awarding_sub_agency, latitude, longitude, {SUM} t FROM aw "
                f"JOIN sgeo USING (awarding_sub_agency) {w} GROUP BY 1, 2, 3 "
                "ORDER BY t DESC, 1"
            ),
            "sankey_data": self.q(sankey),
            "month_data": self.q(
                f"SELECT awarding_sub_agency, {month} m, {SUM} t FROM aw {w} "
                "GROUP BY 1, 2 ORDER BY t DESC, 1, 2 LIMIT 30"
            ),
            "pie_data": self.q(
                f"SELECT awarding_sub_agency, {SUM} FROM aw {w} GROUP BY 1 ORDER BY 1"
            ),
            "line_data": self.q(
                f"SELECT {month} m, {SUM} FROM aw {w} GROUP BY 1 ORDER BY 1"
            ),
            "grand_total": self.q(f"SELECT {SUM} FROM aw {w}")[0][0],
        }

    def rollup_state(self, batch_files: list[str]) -> list[tuple]:
        files = ", ".join(f"'{f}'" for f in batch_files)
        src = AWARDS_SQL.format(orders=f"read_parquet([{files}])")
        return sorted(self.q(
            "SELECT awarding_sub_agency, CAST(month(start_date) AS INT), "
            f"{SUM}, COUNT(*) FROM ({src}) GROUP BY 1, 2"
        ), key=_sort_key)


def feature_rows(rng: np.random.Generator) -> list[dict]:
    """Single-row inference forms; every eighth names a sub-agency the
    models never saw, which the engine must refuse."""
    rows = []
    for i in range(N_FEATURE_ROWS):
        nation = int(rng.integers(0, gen.N_NATIONS))
        rows.append({
            "awarding_agency": gen.REGIONS[nation % len(gen.REGIONS)],
            "awarding_sub_agency": (
                UNSEEN_SUB_AGENCY if i % 8 == 7 else f"NATION_{nation}"
            ),
            "contract_award_type": gen.PRIORITIES[int(rng.integers(0, 5))],
            "funding_agency": gen.SEGMENTS[int(rng.integers(0, 5))],
            "funding_sub_agency": gen.STATUSES[int(rng.integers(0, 3))],
            "month": int(rng.integers(1, 13)),
            "year": int(rng.integers(1995, 2002)),
            "award_amount": float(np.round(rng.uniform(1000.0, 500000.0), 2)),
        })
    return rows


class Frames:
    """The serving tier's long-lived frames over one input directory."""

    def __init__(self, spark, in_dir: str):
        from pyspark.sql import functions as F

        from bigdata_usaspending_spark.catalog import load
        from bigdata_usaspending_spark.ml.adapter import awards_view

        self.awards = awards_view(spark, in_dir)
        customer = load(spark, in_dir, "customer")
        nation = load(spark, in_dir, "nation")
        # the same geo dims as the registry's q_dashboard_payload
        self.rgeo = customer.filter(F.col("c_custkey") % 3 == 0).select(
            F.col("c_name").alias("recipient_name"),
            (F.col("c_custkey") % 180 - 90 + F.lit(0.25)).cast("double").alias("latitude"),
            ((F.col("c_custkey") * 7) % 360 - 180 + F.lit(0.25)).cast("double").alias("longitude"),
        )
        self.sgeo = nation.select(
            F.col("n_name").alias("awarding_sub_agency"),
            (F.col("n_nationkey") * 3.0 - 30).cast("double").alias("latitude"),
            (F.col("n_nationkey") * 7.0 - 80).cast("double").alias("longitude"),
        )

    def awards_for(self, agency):
        from pyspark.sql import functions as F

        if agency is None:
            return self.awards
        return self.awards.filter(F.col("awarding_agency") == agency)


def _payload_rows(p: dict) -> dict:
    return {
        name: (rows if name == "grand_total" else [tuple(r.values()) for r in rows])
        for name, rows in p.items()
    }


def run(ctx: Context) -> Run:
    from bigdata_usaspending_spark.functions import month_of
    from bigdata_usaspending_spark.ml import pipelines
    from bigdata_usaspending_spark.ml.adapter import awards_view
    from bigdata_usaspending_spark.plans import all_oracles, dashboard, rollups, serving
    from bigdata_usaspending_spark.plans.oracle_check import duck_connection

    spark, out = ctx.spark, Run()

    # ---- set-up: generate the inputs, open the serving frames, first request
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        in_dir = os.path.join(ctx.work, f"inputs{rep}")
        sizes = gen.write_star(in_dir, ctx.seed, N_ORDERS, N_CUSTOMERS)
        frames = Frames(spark, in_dir)
        warm = serving.dashboard_payload(frames.awards, frames.rgeo, frames.sgeo)
        out.setup_s.append(time.perf_counter() - t0)
    out.detail["inputs"] = {**sizes, "batch_orders": BATCH_ORDERS}
    oracle = Oracle(in_dir)

    # the registry's own oracle for the payload's dataset sizes
    reg = dict(duck_connection(in_dir).execute(all_oracles()["q_dashboard_payload"]).fetchall())
    got = {k: (len(v) if isinstance(v, list) else 1) for k, v in warm.items()}
    out.check_run(got == reg, f"payload dataset sizes {got} != registry oracle {reg}")

    rng = np.random.default_rng([ctx.seed, 10])
    features = feature_rows(rng)
    k_p = gen.zipf_weights(len(K_CHOICES))
    agency_p = gen.zipf_weights(len(AGENCY_CHOICES))
    feat_p = gen.zipf_weights(len(features))

    rollup_dir = os.path.join(ctx.work, "rollup")
    os.makedirs(rollup_dir)
    meter = WriteMeter([rollup_dir])
    state = None
    batch_files: list[str] = []
    answers: dict = {}
    models: dict = {}

    # ---- the job: train the three pipelines on the awards view
    start = time.perf_counter()
    res = timed(ctx, out, "job", "train_all", lambda: layer(
        ctx, "ml.pipelines.train_all", pipelines.train_all, frames.awards))
    if res is not None:
        out.check(
            len(res.feature_categoricals) == 5
            and math.isfinite(res.regression_rmse)
            and 0.0 <= res.classification_auc <= 1.0
            and len(res.cluster_centers) == 5,
            "train_all result out of shape",
        )
        models = {
            "regression": res.regression_model,
            "classification": res.classification_model,
            "clustering": res.clustering_model,
        }

    # ---- the request loop
    n = 0
    # the window, and at least one whole cycle so every class has samples
    while time.perf_counter() - start < ctx.seconds or n < len(CYCLE):
        kind = CYCLE[n % len(CYCLE)]
        n += 1
        if kind == "refresh":
            b = len(batch_files) + 1
            bdir = os.path.join(ctx.work, "batches", f"b{b}")
            os.makedirs(bdir)
            for t in ("region", "nation", "customer"):
                shutil.copy(os.path.join(in_dir, f"{t}.parquet"), bdir)
            brng = np.random.default_rng([ctx.seed, 20, b])
            batch_bytes = gen.write(
                gen.orders_table(brng, N_ORDERS + (b - 1) * BATCH_ORDERS,
                                 BATCH_ORDERS, N_CUSTOMERS),
                os.path.join(bdir, "orders.parquet"),
            )
            batch_files.append(os.path.join(bdir, "orders.parquet"))
            prev = state

            def refresh():
                baw = layer(ctx, "ml.adapter.awards_view", awards_view, spark, bdir)
                delta = layer(
                    ctx, "plans.rollups.partial_rollup", rollups.partial_rollup,
                    baw.withColumn("month", month_of("start_date")),
                    ROLLUP_KEYS, "award_amount",
                )
                merged = layer(ctx, "plans.rollups.merge_rollup",
                               rollups.merge_rollup, prev, delta, ROLLUP_KEYS)
                path = os.path.join(rollup_dir, f"v{b}")
                layer(ctx, "plans.rollups.write_rollup", rollups.write_rollup, merged, path)
                return spark.read.parquet(path)

            new_state = timed(ctx, out, "write", "rollup_refresh", refresh)
            written = meter.delta()
            if new_state is not None:
                out.amp.append(written / batch_bytes)
                state = new_state
                got = sorted(
                    (tuple(r) for r in rollups.rollup_view(state).collect()),
                    key=_sort_key,
                )
                out.check(got == oracle.rollup_state(batch_files),
                          f"rollup state after batch {b} differs from DuckDB")
            else:
                batch_files.pop()
            continue

        agency = AGENCY_CHOICES[int(rng.choice(len(AGENCY_CHOICES), p=agency_p))]
        k = K_CHOICES[int(rng.choice(len(K_CHOICES), p=k_p))]
        key = ("recipient_name", "awarding_sub_agency")[int(rng.integers(0, 2))]
        if kind in models:
            fi = int(rng.choice(len(features), p=feat_p))
            fn = getattr(serving, f"{kind}_payload")
            resp = timed(ctx, out, "read", kind, lambda: layer(
                ctx, f"plans.serving.{kind}_payload", fn,
                models[kind], spark, features[fi]))
            if resp is None:
                continue
            seen = features[fi]["awarding_sub_agency"] != UNSEEN_SUB_AGENCY
            shape = resp["ok"] == seen and (not seen or (
                (kind == "regression" and math.isfinite(resp["prediction"]))
                or (kind == "classification" and resp["label"] in ("HIGH", "LOW")
                    and 0.0 <= resp["confidence_pct"] <= 100.0)
                or (kind == "clustering" and 0 <= resp["cluster"] < 5)
            ))
            first = answers.setdefault((kind, fi), resp)
            out.check(shape and first == resp, f"{kind} inference response {resp}")
            continue

        aw = frames.awards_for(agency)
        if kind == "payload":
            call = lambda: _payload_rows(layer(  # noqa: E731
                ctx, "plans.serving.dashboard_payload", serving.dashboard_payload,
                aw, frames.rgeo, frames.sgeo, sankey_k=k))
        else:
            geo = frames.rgeo if key == "recipient_name" else frames.sgeo
            # request kind -> (layer, the engine's frame, rows come ordered)
            name, frame, ordered = {
                "sankey": ("plans.dashboard.sankey_links",
                           lambda: dashboard.sankey_links(aw, k), True),
                "map": ("plans.dashboard.map_totals",
                        lambda: dashboard.map_totals(aw, geo, key, limit=k), True),
                "monthly": ("plans.dashboard.monthly_rollup",
                            lambda: dashboard.monthly_rollup(aw), False),
                "by_entity": ("plans.rollups.total_by_entity", lambda: rollups.total_by_entity(
                    aw, frames.rgeo, "recipient_name", "recipient_name",
                    "award_amount", ("latitude", "longitude")), False),
                "by_two_keys": ("plans.rollups.total_by_two_keys", lambda: rollups.total_by_two_keys(
                    aw, frames.sgeo, "awarding_sub_agency", "awarding_sub_agency",
                    "recipient_name", "award_amount"), False),
                "by_month": ("plans.rollups.total_by_month", lambda: rollups.total_by_month(
                    aw, frames.sgeo, "awarding_sub_agency", "awarding_sub_agency",
                    "start_date", "award_amount"), False),
            }[kind]

            def call():
                rows = [tuple(r) for r in layer(ctx, name, lambda: frame().collect())]
                return rows if ordered else sorted(rows, key=_sort_key)

        got = timed(ctx, out, "read", kind, call)
        if got is not None:
            out.check(got == oracle.expected(kind, agency, k, key),
                      f"{kind}(agency={agency}, k={k}, key={key}) differs from DuckDB")
    return out
