"""dag_fleet: the six reference DAGs on the cron scheduler at home-lab
fan-out (16 DNS clients, 8 speedtest devices, 4 backup devices x 4
folders, 6 IPs), with a seeded fault on about 10% of fires.

The simulated clock advances 5 minutes per poll, which reproduces the
reference's cron mix. Fixtures are generated relative to each fire's
``ctx.run_ts``, and every run's status and failing tasks must equal the
generator's verdict.
"""

from __future__ import annotations

import datetime as dt

from . import gen
from .scheduled import ScheduledWorkload

#: fixture schema per source the DAG builders read
SCHEMAS = {
    "adguard_status": "running boolean, protection_enabled boolean, "
    "protection_disabled_duration bigint",
    "adguard_querylog": "client string, oldest timestamp",
    "ha_entities": "device string, entity_id string, state string",
    "syncthing_health": "device string, status string",
    "syncthing_folders": "device string, label string, paused boolean",
    "syncthing_folder_stats": "device string, folder string, lastScan timestamp",
    "ip_inventory": "id string, ipv4_address string, ipv6_address string",
    "cloudflare_dns_records": "record_id string, name string, type string, content string",
    "cloudflare_policies": "id string, name string",
    "own_ip": "ipv6 string",
    "files": "path string, mtime timestamp",
    "disk": "used_bytes bigint, total_bytes bigint",
}
ALL_DAGS = frozenset({
    "DNS-Requests", "Speedtest", "Backups",
    "Cloudflare-Apps", "Cloudflare-DDNS", "Airflow-Cleanup",
})


def due_pipelines(ts: dt.datetime, first: bool) -> set[str]:
    """Which DAGs the reference cron mix fires at ``ts``, written out
    here independently of the scheduler so it can be checked."""
    if first:
        return set(ALL_DAGS)
    out = set()
    if ts.minute % 5 == 0:
        out |= {"Cloudflare-Apps", "Cloudflare-DDNS"}
    if ts.minute == 0:
        out |= {"DNS-Requests", "Backups"}
        if ts.hour % 6 == 0:
            out.add("Speedtest")
        if ts.hour == 0:
            out.add("Airflow-Cleanup")
    return out


def check_run(plan: gen.FleetPlan, pipeline: str, fire: dt.datetime, run) -> str | None:
    """None if the run's outcome equals the generator's verdict, else
    what differs."""
    want = plan.verdict(pipeline, fire)
    failed = frozenset(k for k, r in run.tasks.items() if r.status == "failed")
    if run.status != want.status or failed != want.failed_tasks:
        return (
            f"{pipeline}@{fire:%Y-%m-%dT%H:%M} fault={want.fault}: status "
            f"{run.status} failed={sorted(failed)}, expected {want.status} "
            f"failed={sorted(want.failed_tasks)}"
        )
    if want.failed_elements:
        els = run.tasks["speed_test"].elements or []
        got = frozenset(e["element"] for e in els if e["status"] == "failed")
        if got != want.failed_elements:
            want_els = sorted(want.failed_elements)
            return f"{pipeline}@{fire}: failed elements {sorted(got)} != {want_els}"
    return None


class Fleet(ScheduledWorkload):
    name = "dag_fleet"
    tick = gen.TICK

    def __init__(self, seed: int, workdir: str, tracer):
        super().__init__(seed, workdir, tracer)
        self.plan = gen.fleet_plan(seed)
        self.now = self.plan.start
        self.variables = self.plan.variables

    def generate(self) -> None:
        """Nothing to write: fixtures are built per fire from the plan."""

    def pipelines(self, spark) -> list:
        from airflow_spark import pipelines as P

        plan = self.plan
        src = {
            s: (lambda ctx, s=s: ctx.spark.createDataFrame(plan.rows(s, ctx.run_ts), SCHEMAS[s]))
            for s in SCHEMAS
        }
        sink = lambda url, doc: None  # noqa: E731 — the dev profile never posts
        return [
            P.build_dns_requests(src),
            P.build_speedtest(src),
            P.build_backups(src),
            P.build_cloudflare_apps(src, sink),
            P.build_cloudflare_ddns(src, sink),
            P.build_airflow_cleanup(src, lambda path: None),
        ]

    def expected_fires(self, fire, first):
        return due_pipelines(fire, first)

    def check_run(self, commit, fire):
        return check_run(self.plan, commit.pipeline.name, fire, commit.run)

    def xcom_expectation(self):
        return "DNS-Requests", "clients", self.plan.dns_clients
