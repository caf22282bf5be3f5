"""Expected results from the generator's truth table, and the output
checks the benchmark runs after every operation.

Expectations are computed with DuckDB and plain Python over
``truth.csv``, never with the program. Every check takes collected
results (plain Python values) and returns a list of error strings; an
empty list means the output is correct.

Model of the program that the expectations rely on:

* silver keeps one row per surviving reading slot (``truth.csv``);
* gold rounds half-even on the shortest decimal form of a double
  (Spark's ``bround``), reproduced here by :func:`bround`;
* rolling windows restart at each incremental batch, i.e. per truth
  ``part``;
* quality is scored before the catalog fills location, manufacturer
  and model, with the penalties summed in the program's order;
* every generated event time lies in the past by far more than silver's
  48 h late-event horizon, so every silver row is a late event.
"""

from __future__ import annotations

import datetime as dt
from decimal import ROUND_HALF_EVEN, Decimal

import duckdb

RATE_PER_KWH = 0.12  # the program's ENERGY_RATE_PER_KWH, restated here
LIVE_HOURS = 2
LIVE_K = 100
# energy sums are sums of whole milli-Wh: a real error is at least
# 0.001 Wh, summation order moves the last bits only
ENERGY_ABS_TOL = 2e-4
ENERGY_REL_TOL = 1e-10
HEALTH_TOL = 1.5e-3  # health scores are rounded to 3 decimals


def bround(x: float, digits: int) -> float:
    """Half-even rounding of the shortest repr of ``x``."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_EVEN))


def _close(a, b, tol: float) -> bool:
    return a is not None and b is not None and abs(a - b) <= tol


def _energy_tol(want: float) -> float:
    return ENERGY_ABS_TOL + ENERGY_REL_TOL * abs(want)


class Truth:
    """DuckDB view over ``truth.csv`` with the expected result of every
    checked output, for the readings of parts ``0..max_part``."""

    def __init__(self, truth_csv: str):
        # small and single-threaded: the checker runs in the benchmark's
        # own process, whose RSS the benchmark reports
        self.con = duckdb.connect(config={"threads": 1, "memory_limit": "256MB"})
        self.con.execute(
            f"""
            CREATE VIEW t AS
            SELECT part, device_id, device_type, user_id,
                   CAST(replace(replace("timestamp", 'T', ' '), 'Z', '')
                        AS TIMESTAMP) AS ts,
                   temperature, power_usage, energy_consumption_wh AS e, alert,
                   has_optional
            FROM read_csv('{truth_csv}', header = true, columns = {{
                'part': 'INTEGER', 'device_id': 'VARCHAR',
                'device_type': 'VARCHAR', 'user_id': 'VARCHAR',
                'timestamp': 'VARCHAR', 'temperature': 'DOUBLE',
                'power_usage': 'DOUBLE', 'energy_consumption_wh': 'DOUBLE',
                'alert': 'VARCHAR', 'has_optional': 'INTEGER'}})
            """
        )

    def close(self) -> None:
        self.con.close()

    def written_rows(self, table: str) -> int:
        """Rows in a parquet table directory on disk (read without Spark,
        so no session cache can answer for them)."""
        return self.con.execute(
            f"SELECT count(*) FROM read_parquet('{table}/**/*.parquet')"
        ).fetchone()[0]

    def written_gold_by_date(self, gold_root: str) -> dict:
        """Per-date totals of the gold daily-energy snapshot on disk."""
        rows = self.con.execute(
            f"""
            SELECT date, sum(total_readings), sum(energy_consumption_wh_sum)
            FROM read_parquet('{gold_root}/daily_energy_consumption/*.parquet')
            GROUP BY date
            """
        ).fetchall()
        return {d: (n, e) for d, n, e in rows}

    def silver_rows(self, max_part: int) -> int:
        return self.con.execute(
            "SELECT count(*) FROM t WHERE part <= ?", [max_part]
        ).fetchone()[0]

    def _groups(self, max_part: int) -> list[tuple]:
        """Gold daily groups: (device_id, device_type, date, n, wh_sum)."""
        rows = self.con.execute(
            """
            SELECT device_id, device_type, CAST(ts AS DATE) AS d,
                   count(*), sum(e)
            FROM t WHERE part <= ? GROUP BY ALL ORDER BY ALL
            """,
            [max_part],
        ).fetchall()
        return [(dv, ty, d, n, bround(s, 3)) for dv, ty, d, n, s in rows]

    def gold_by_date(self, max_part: int) -> dict:
        """date -> (Σ total_readings, Σ energy_consumption_wh_sum)."""
        out: dict = {}
        for _dv, _ty, d, n, s in self._groups(max_part):
            cn, cs = out.get(d, (0, 0.0))
            out[d] = (cn + n, cs + s)
        return out

    def kpi(self, max_part: int, today: dt.date) -> dict:
        """``kpi_with_fallback`` answered from gold for ``today``."""
        groups = [g for g in self._groups(max_part) if g[2] == today]
        health = self.health(max_part)
        return {
            "total_energy_kwh": sum(g[4] for g in groups) / 1000.0,
            "total_cost": sum(
                bround(g[4] / 1000.0 * RATE_PER_KWH, 2) for g in groups
            ),
            "active_devices": len({g[0] for g in groups}),
            "avg_health": 100.0
            * sum(h["health_score"] for h in health.values())
            / len(health),
            "kpi_source": "gold_today",
        }

    def health(self, max_part: int) -> dict:
        """device_id -> gold health row (health_scatter's columns)."""
        rows = self.con.execute(
            """
            WITH s AS (
              SELECT device_id, device_type,
                     1.0::DOUBLE - (0.0::DOUBLE
                       + CASE WHEN has_optional = 0 THEN 0.1::DOUBLE ELSE 0.0 END
                       + CASE WHEN has_optional = 0 THEN 0.1::DOUBLE ELSE 0.0 END
                       + CASE WHEN has_optional = 0 THEN 0.1::DOUBLE ELSE 0.0 END
                       + CASE WHEN temperature < 0 OR temperature > 50
                              THEN 0.2::DOUBLE ELSE 0.0 END
                       + CASE WHEN power_usage > 5000 THEN 0.2::DOUBLE ELSE 0.0 END)
                       AS q,
                     sum(CASE WHEN alert <> 'none' THEN 1 ELSE 0 END) OVER (
                       PARTITION BY device_id, part ORDER BY ts
                       ROWS BETWEEN 59 PRECEDING AND CURRENT ROW) AS a
              FROM t WHERE part <= ?)
            SELECT device_id, device_type, avg(q),
                   avg(CASE WHEN q >= 0.5 THEN 1.0 ELSE 0.0 END), avg(a),
                   count(*)
            FROM s GROUP BY ALL
            """,
            [max_part],
        ).fetchall()
        out = {}
        for dv, ty, q, v, a, n in rows:
            late = 1.0
            h = q * 0.4 + v * 0.3 + (1 - late) * 0.2 + (1 - min(1.0, a / 10)) * 0.1
            f = min(1.0, (1 - h) * 0.7 + a / 20 + late * 0.3)
            out[dv] = {
                "device_type": ty,
                "health_score": min(1.0, max(0.0, h)),
                "failure_probability": min(1.0, max(0.0, f)),
                "total_alerts": round(a * n / 60.0),
            }
        return out

    def dashboard(self, max_part: int) -> dict:
        """Expected result of each dashboard query over the history."""
        groups = self._groups(max_part)
        by_type: dict = {}
        by_date: dict = {}
        for _dv, ty, d, _n, s in groups:
            by_type[ty] = by_type.get(ty, 0.0) + s / 1000.0
            by_date[d] = by_date.get(d, 0.0) + s / 1000.0
        now, lo, n_rows = self.con.execute(
            "SELECT max(ts), min(ts), count(*) FROM t WHERE part <= ?",
            [max_part],
        ).fetchone()
        live = self.con.execute(
            """
            SELECT device_id, ts, temperature, power_usage FROM t
            WHERE part <= ? AND ts >= ? ORDER BY ts DESC LIMIT ?
            """,
            [max_part, now - dt.timedelta(hours=LIVE_HOURS), LIVE_K],
        ).fetchall()
        dates = sorted(by_date)
        return {
            "now": now,
            "today": now.date(),
            "kpi": self.kpi(max_part, now.date()),
            "energy_by_device_type": by_type,
            "daily_energy_trend": [(d, by_date[d]) for d in dates],
            "daily_cost_trend": [(d, by_date[d] * RATE_PER_KWH) for d in dates],
            "health_scatter": self.health(max_part),
            "live_readings": {
                "ts": sorted(r[1] for r in live),
                "values": {
                    (dv, ts): (tp, pw)
                    for dv, ts, tp, pw in self.con.execute(
                        "SELECT device_id, ts, temperature, power_usage FROM t "
                        "WHERE part <= ? AND ts >= ?",
                        [max_part, live[-1][1]],
                    ).fetchall()
                },
            },
            "data_status": {
                "silver": (n_rows, lo, now),
                "daily_energy_consumption": (len(groups), dates[0], dates[-1]),
            },
        }


# --- checks over collected results ------------------------------------


def check_count(what: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{what}: {got} rows, expected {want}"]


def check_gold(got: dict, want: dict) -> list[str]:
    """``got``: date -> (Σ total_readings, Σ energy_consumption_wh_sum)."""
    errs = []
    if set(got) != set(want):
        errs.append(f"gold dates {sorted(got)} != {sorted(want)}")
    for d in sorted(set(got) & set(want)):
        (gn, ge), (wn, we) = got[d], want[d]
        if gn != wn:
            errs.append(f"gold {d}: {gn} readings, expected {wn}")
        if not _close(ge, we, _energy_tol(we)):
            errs.append(f"gold {d}: {ge} Wh, expected {we}")
    return errs


def check_kpi(got: dict, want: dict) -> list[str]:
    errs = []
    for k in ("total_energy_kwh", "total_cost"):
        if not _close(got.get(k), want[k], _energy_tol(want[k])):
            errs.append(f"kpi {k}: {got.get(k)}, expected {want[k]}")
    if got.get("active_devices") != want["active_devices"]:
        errs.append(
            f"kpi active_devices: {got.get('active_devices')}, "
            f"expected {want['active_devices']}"
        )
    if not _close(got.get("avg_health"), want["avg_health"], 100 * HEALTH_TOL):
        errs.append(f"kpi avg_health: {got.get('avg_health')}, expected {want['avg_health']}")
    if got.get("kpi_source") != want["kpi_source"]:
        errs.append(f"kpi source: {got.get('kpi_source')}, expected {want['kpi_source']}")
    return errs


def _check_series(name: str, got: list, want: list) -> list[str]:
    if [k for k, _ in got] != [k for k, _ in want]:
        return [f"{name}: keys {[k for k, _ in got]} != {[k for k, _ in want]}"]
    return [
        f"{name} {k}: {g}, expected {w}"
        for (k, g), (_, w) in zip(got, want)
        if not _close(g, w, _energy_tol(w))
    ]


def check_query(name: str, got, want: dict) -> list[str]:
    """Check one dashboard query's collected result against the
    expectations from :meth:`Truth.dashboard`."""
    if name == "kpi":
        return check_kpi(got, want["kpi"])
    if name == "energy_by_device_type":
        return _check_series(
            name, sorted(got.items()), sorted(want[name].items())
        )
    if name in ("daily_energy_trend", "daily_cost_trend"):
        return _check_series(name, got, want[name])
    if name == "health_scatter":
        w = want[name]
        if set(got) != set(w):
            return [f"health_scatter: devices differ ({len(got)} vs {len(w)})"]
        errs = []
        for dv, row in sorted(got.items()):
            for k in ("health_score", "failure_probability"):
                if not _close(row[k], w[dv][k], HEALTH_TOL):
                    errs.append(f"health {dv} {k}: {row[k]}, expected {w[dv][k]}")
            if row["device_type"] != w[dv]["device_type"] or not _close(
                row["total_alerts"], w[dv]["total_alerts"], 1
            ):
                errs.append(f"health {dv}: {row}, expected {w[dv]}")
        return errs
    if name == "live_readings":
        w = want[name]
        ts = [r[1] for r in got]
        errs = [] if ts == w["ts"] else [f"live_readings: timestamps differ ({len(ts)} rows)"]
        for dv, t, tp, pw in got:
            if w["values"].get((dv, t)) != (tp, pw):
                errs.append(f"live_readings: row {dv} {t} ({tp}, {pw}) not in silver")
                break
        return errs
    if name == "data_status":
        w = want[name]
        return (
            []
            if got == w
            else [f"data_status: {got}, expected {w}"]
        )
    raise ValueError(f"unknown query {name}")
