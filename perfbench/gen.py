"""Seeded telemetry generator for the medallion benchmark.

Writes, from a seed alone:

* raw JSON telemetry, one message per line, as the simulator would put
  it on the Kafka topic: a backlog part and optional tick parts;
* the device-catalog CSV;
* ``truth.csv``: the silver survivors, computed here without calling
  the program, one row per reading that the medallion must keep, with
  whether the event itself carried location/manufacturer/model.

Seeded defects, each at a small fixed rate per reading slot:
re-delivered duplicates (an exact copy of the line later in the same
part), out-of-range values (dropped by silver's range filter), a null
``device_id`` (rejected at ingest), malformed JSON (rejected at ingest)
and late arrivals (event time 49 h earlier than the slot; kept).

Run ``python3 perfbench/gen.py OUT_DIR --seed N [--preset backfill]`` to
write one input set by hand.
"""

from __future__ import annotations

import argparse
import csv
import dataclasses
import datetime as dt
import json
import os

import numpy as np

DEVICE_TYPES = (
    "thermostat",
    "smart_bulb",
    "smart_plug",
    "security_camera",
    "motion_sensor",
)
# power range (W) per device type; the thermostat can exceed the
# 5000 W quality threshold
POWER_RANGE = {
    "thermostat": (500.0, 6000.0),
    "smart_bulb": (2.0, 60.0),
    "smart_plug": (10.0, 2500.0),
    "security_camera": (3.0, 15.0),
    "motion_sensor": (0.5, 3.0),
}
LOCATIONS = ("kitchen", "living_room", "bedroom", "garage", "office")
MANUFACTURERS = ("Acme", "Voltix", "HomeSense")

# defect rates per reading slot
DUP_RATE = 0.01
OUT_OF_RANGE_RATE = 0.005
NULL_CRITICAL_RATE = 0.005
MALFORMED_RATE = 0.003
LATE_RATE = 0.005
# late arrivals carry an event time this far before their slot, plus a
# sub-second offset so they never collide with an on-time reading
LATE_SHIFT_US = 49 * 3600 * 1_000_000 + 123_456
ALERT_RATE = 0.02
HOT_RATE = 0.01  # temperature above 50 C: in range, but penalised
OPTIONAL_NULL_RATE = 0.1  # location/manufacturer/model missing; catalog fills

# slot kinds
NORMAL, OUT_OF_RANGE, NULL_CRITICAL, MALFORMED, LATE = range(5)

TRUTH_COLUMNS = (
    "part",
    "device_id",
    "device_type",
    "user_id",
    "timestamp",
    "temperature",
    "power_usage",
    "energy_consumption_wh",
    "alert",
    "has_optional",
)


@dataclasses.dataclass(frozen=True)
class Spec:
    """Shape of one generated input set."""

    n_devices: int
    interval_s: int  # one reading per device every interval_s
    backlog_s: int  # event-time span of the backlog part
    n_ticks: int = 0
    tick_s: int = 0  # event-time span of each tick part
    lines_per_file: int = 20_000
    start: str = "2024-06-01T22:30:00"  # UTC; the backlog crosses midnight


PRESETS = {
    # the reference fleet of 10 devices at 1 reading/device/s
    "backfill": Spec(n_devices=10, interval_s=1, backlog_s=6 * 3600, lines_per_file=4_500),
    # a larger fleet at 1 reading/device/min: 1 h of history, then
    # 5-minute ticks
    "fleet": Spec(
        n_devices=500,
        interval_s=60,
        backlog_s=3600,
        n_ticks=20,
        tick_s=300,
        lines_per_file=5_000,
        start="2024-06-01T23:30:00",
    ),
}
# the dashboard reads the fleet's history
PRESETS["dashboard"] = dataclasses.replace(PRESETS["fleet"], n_ticks=0)
# the traced run's shorter backlog, for the drains that time the tracing
# overhead and the single-core drain
PRESETS["backfill_short"] = dataclasses.replace(PRESETS["backfill"], backlog_s=3600)


def device_table(n_devices: int) -> list[dict]:
    """Device catalog rows; device i belongs to user i // 4."""
    rows = []
    for i in range(n_devices):
        rows.append(
            {
                "device_id": f"device_{i:05d}",
                "device_type": DEVICE_TYPES[i % len(DEVICE_TYPES)],
                "user_id": f"user_{i // 4:05d}",
                "location": LOCATIONS[i % len(LOCATIONS)],
                "installation_date": (
                    dt.date(2022, 1, 1) + dt.timedelta(days=(i * 37) % 700)
                ).isoformat(),
                "manufacturer": MANUFACTURERS[i % len(MANUFACTURERS)],
                "model": f"M{i % 7}",
            }
        )
    return rows


def _iso(us: int) -> str:
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _epoch_us(iso: str) -> int:
    t = dt.datetime.fromisoformat(iso)
    return int((t - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _part(rng, devices, t0_us: int, span_s: int, interval_s: int):
    """One part's JSON lines (in delivery order) and its truth rows."""
    n_dev = len(devices)
    n_t = span_s // interval_s
    n = n_dev * n_t
    # slot order: time-major, so a part is delivered roughly in event order
    dev_idx = np.tile(np.arange(n_dev), n_t)
    ts_us = t0_us + np.repeat(np.arange(n_t, dtype=np.int64), n_dev) * (
        interval_s * 1_000_000
    )
    kind = np.full(n, NORMAL)
    u = rng.random(n)
    edges = np.cumsum(
        [OUT_OF_RANGE_RATE, NULL_CRITICAL_RATE, MALFORMED_RATE, LATE_RATE]
    )
    kind[u < edges[3]] = LATE
    kind[u < edges[2]] = MALFORMED
    kind[u < edges[1]] = NULL_CRITICAL
    kind[u < edges[0]] = OUT_OF_RANGE
    ts_us = np.where(kind == LATE, ts_us - LATE_SHIFT_US, ts_us)

    lo = np.array([POWER_RANGE[d["device_type"]][0] for d in devices])
    hi = np.array([POWER_RANGE[d["device_type"]][1] for d in devices])
    power = np.round(lo[dev_idx] + rng.random(n) * (hi - lo)[dev_idx], 2)
    temp = np.round(18.0 + rng.random(n) * 8.0, 2)
    temp = np.where(rng.random(n) < HOT_RATE, np.round(55.0 + rng.random(n) * 5, 2), temp)
    temp = np.where(kind == OUT_OF_RANGE, 150.0, temp)
    # energy in whole milli-Wh, so gold's 3-decimal sums are exact
    energy_mwh = np.round(power * interval_s / 3.6).astype(np.int64)
    alert = np.where(rng.random(n) < ALERT_RATE, "high_usage", "none")
    opt_null = rng.random(n) < OPTIONAL_NULL_RATE
    dup = (rng.random(n) < DUP_RATE) & ((kind == NORMAL) | (kind == LATE))
    # where each duplicate is re-delivered: a later slot of the same part
    dup_at = np.minimum(
        n - 1, np.arange(n) + 1 + (rng.random(n) * 200).astype(np.int64)
    )

    iso = np.char.add(np.datetime_as_string(ts_us.astype("datetime64[us]"), unit="us"), "Z")
    lines = []
    truth = []
    extra: dict[int, list[str]] = {}
    for i in range(n):
        d = devices[dev_idx[i]]
        k = kind[i]
        ts = str(iso[i])
        energy = f"{energy_mwh[i] // 1000}.{energy_mwh[i] % 1000:03d}"
        body = (
            f'"device_type": "{d["device_type"]}", "user_id": "{d["user_id"]}", '
            f'"timestamp": "{ts}", "temperature": {float(temp[i])!r}, '
            f'"power_usage": {float(power[i])!r}, "energy_consumption_wh": {energy}, '
            f'"status": "active", "alert": "{alert[i]}"'
        )
        if not opt_null[i]:
            body += (
                f', "location": "{d["location"]}", '
                f'"manufacturer": "{d["manufacturer"]}", "model": "{d["model"]}"'
            )
        did = "null" if k == NULL_CRITICAL else f'"{d["device_id"]}"'
        line = "{" + f'"device_id": {did}, ' + body + "}"
        if k == MALFORMED:
            line = line[: len(line) // 2]
        lines.append(line)
        lines.extend(extra.pop(i, ()))
        if dup[i]:
            extra.setdefault(int(dup_at[i]), []).append(line)
        if k in (NORMAL, LATE):
            truth.append(
                (
                    d["device_id"],
                    d["device_type"],
                    d["user_id"],
                    ts,
                    repr(float(temp[i])),
                    repr(float(power[i])),
                    energy,
                    alert[i],
                    0 if opt_null[i] else 1,
                )
            )
    for i in sorted(extra):
        lines.extend(extra[i])
    return lines, truth


def _write_lines(dir_path: str, lines: list[str], per_file: int) -> None:
    os.makedirs(dir_path, exist_ok=True)
    for n, j in enumerate(range(0, len(lines), per_file)):
        with open(os.path.join(dir_path, f"part-{n:05d}.json"), "w") as f:
            f.write("\n".join(lines[j : j + per_file]) + "\n")


def generate(out_dir: str, seed: int, spec: Spec) -> dict:
    """Write one input set under ``out_dir`` and return its manifest:
    paths, the events delivered per part and the survivors per part.
    Part 0 is the backlog (``out_dir/backlog``); part k >= 1 is tick k
    (``out_dir/ticks/tick-{k:03d}``)."""
    rng = np.random.default_rng(seed)
    devices = device_table(spec.n_devices)
    os.makedirs(out_dir, exist_ok=True)
    catalog = os.path.join(out_dir, "device_catalog.csv")
    with open(catalog, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(devices[0]), lineterminator="\n")
        w.writeheader()
        w.writerows(devices)

    t0 = _epoch_us(spec.start)
    spans = [(t0, spec.backlog_s)] + [
        (t0 + (spec.backlog_s + k * spec.tick_s) * 1_000_000, spec.tick_s)
        for k in range(spec.n_ticks)
    ]
    manifest = {
        "catalog": catalog,
        "truth": os.path.join(out_dir, "truth.csv"),
        "parts": [],
    }
    with open(manifest["truth"], "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(TRUTH_COLUMNS)
        for p, (start, span) in enumerate(spans):
            lines, truth = _part(rng, devices, start, span, spec.interval_s)
            path = (
                os.path.join(out_dir, "backlog")
                if p == 0
                else os.path.join(out_dir, "ticks", f"tick-{p:03d}")
            )
            _write_lines(path, lines, spec.lines_per_file)
            w.writerows((p, *row) for row in truth)
            manifest["parts"].append(
                {
                    "path": path,
                    "events": len(lines),
                    "survivors": len(truth),
                    "end": _iso(start + span * 1_000_000 - 1),
                }
            )
    return manifest


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--preset", choices=sorted(PRESETS), default="backfill")
    a = ap.parse_args()
    print(json.dumps(generate(a.out_dir, a.seed, PRESETS[a.preset]), indent=1))
