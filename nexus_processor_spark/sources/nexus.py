"""Distributed NeXus/HDF5 ingest: files -> the nine typed run tables.

Spark-native redesign of the reference's single-process ETL
(src/nexus_processor/parquet.py:784-897): the driver only *lists* files;
parsing runs on executors via ``mapInPandas`` (one task per file), and the
result is a normal DataFrame written with ``write.partitionBy``.

    paths -> spark.createDataFrame -> repartition(n) -> mapInPandas(parse)
          -> DataFrame[table schema] -> catalog.write_table

The extraction semantics are pinned to the reference's documented behavior
(citations inline); the implementation is new and vectorized — the CSR
pulse-index expansion uses ``np.searchsorted`` instead of the reference's
per-pulse Python loop (parquet.py:465-471).

HDF5 access is an import-gated boundary: ``h5py`` parses ``*.h5``; a
deterministic JSON "tree" format (same nested structure) exercises the
entire distributed path in tests and containers without h5py. Everything
downstream of ``load_tree`` is shared.
"""

from __future__ import annotations

import json
import math
from collections.abc import Callable, Iterable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexus_processor_spark.schemas import TABLES

ATTRS = "@attrs"  # key holding a node's HDF5 attributes in tree form

# ---------------------------------------------------------------------------
# Tree loading (the only format-specific code)
# ---------------------------------------------------------------------------


def load_tree(path: str) -> dict[str, Any]:
    """Load a NeXus file into nested-dict tree form.

    ``*.json`` fixture trees load everywhere; ``*.h5``/``*.nxs.h5`` need
    h5py (absent in this container -> clear ImportError at task level).
    """
    if path.endswith(".json"):
        with open(path) as fh:
            return json.load(fh)
    try:
        import h5py  # noqa: PLC0415 — optional, gated
    except ImportError as e:  # pragma: no cover - depends on environment
        raise ImportError(
            f"h5py is required to read {path!r}; install h5py or convert "
            "to the JSON tree fixture format"
        ) from e
    with h5py.File(path, "r") as fh:  # pragma: no cover - needs h5py
        return _h5_to_tree(fh)


def _h5_to_tree(node) -> dict[str, Any]:  # pragma: no cover - needs h5py
    out: dict[str, Any] = {ATTRS: {k: _decode(v) for k, v in node.attrs.items()}}
    for key, child in node.items():
        if hasattr(child, "items"):  # group
            out[key] = _h5_to_tree(child)
        else:  # dataset
            out[key] = _decode(child[()])
    return out


# ---------------------------------------------------------------------------
# Scalar normalization — semantics of the reference's safe_decode
# (parquet.py:90-123): bytes -> utf-8 (errors=replace), numpy -> python,
# empty -> None, 2-D -> flattened, lists decoded element-wise.
# ---------------------------------------------------------------------------


def _decode(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    if isinstance(v, np.generic):
        return _decode(v.item())
    if isinstance(v, np.ndarray):
        if v.size == 0:
            return None
        return [_decode(x) for x in v.ravel()]
    if isinstance(v, (list, tuple)):
        return [_decode(x) for x in v]
    return v


def _scalar(v: Any) -> Any:
    """First element of list-wrapped scalars (HDF5 scalar datasets often
    arrive as length-1 arrays)."""
    v = _decode(v)
    if isinstance(v, list):
        return v[0] if v else None
    return v


def _to_str(v: Any) -> str | None:
    v = _scalar(v)
    if v is None:
        return None
    if isinstance(v, (dict, list)):
        return json.dumps(v)
    return str(v)


def _to_float(v: Any) -> float | None:
    v = _scalar(v)
    try:
        f = float(v)  # type: ignore[arg-type]
        return None if math.isnan(f) else f
    except (TypeError, ValueError):
        return None


def _to_int(v: Any) -> int | None:
    f = _to_float(v)
    return None if f is None else int(f)


def _attr_map(node: dict[str, Any]) -> dict[str, str]:
    return {str(k): str(_scalar(v)) for k, v in node.get(ATTRS, {}).items()
            if _scalar(v) is not None}


def _datasets(node: dict[str, Any]) -> dict[str, Any]:
    return {k: v for k, v in node.items() if k != ATTRS and not isinstance(v, dict)}


def _groups(node: dict[str, Any]) -> dict[str, dict[str, Any]]:
    return {k: v for k, v in node.items() if k != ATTRS and isinstance(v, dict)}


# ---------------------------------------------------------------------------
# Per-table extractors (tree -> list of row dicts, no Spark involved)
# ---------------------------------------------------------------------------

_METADATA_FIELDS = {  # entry dataset -> (column, caster); parquet.py:176-181
    "title": ("title", _to_str),
    "start_time": ("start_time", _to_str),
    "end_time": ("end_time", _to_str),
    "duration": ("duration", _to_float),
    "proton_charge": ("proton_charge", _to_float),
    "total_counts": ("total_counts", _to_int),
    "experiment_identifier": ("experiment_identifier", _to_str),
    "definition": ("definition", _to_str),
}


def run_key(tree: dict[str, Any]) -> tuple[str, int, str]:
    """(instrument_id, run_number, run_id) with the reference's fallbacks:
    run_number default 0 (parquet.py:829-832), instrument 'UNKNOWN'
    (parquet.py:840-845)."""
    entry = tree.get("entry", {})
    inst = entry.get("instrument", {})
    instrument_id = _to_str(_datasets(inst).get("name")) if isinstance(inst, dict) else None
    if isinstance(inst, dict) and not instrument_id:
        instrument_id = _to_str(_datasets(inst).get("beamline"))
    instrument_id = instrument_id or "UNKNOWN"
    run_number = _to_int(entry.get("run_number")) or 0
    return instrument_id, run_number, f"{instrument_id}:{run_number}"


def _keyed(tree: dict[str, Any]) -> dict[str, Any]:
    i, r, rid = run_key(tree)
    return {"instrument_id": i, "run_number": r, "run_id": rid}


def extract_metadata(tree: dict[str, Any], source_path: str = "",
                     ingestion_time: str = "") -> list[dict[str, Any]]:
    entry = tree.get("entry", {})
    row = _keyed(tree)
    for ds_name, (col, cast) in _METADATA_FIELDS.items():
        row[col] = cast(entry.get(ds_name))
    row["source_file"] = source_path.rsplit("/", 1)[-1] or None
    row["source_path"] = source_path or None
    row["ingestion_time"] = ingestion_time or None
    row["file_attributes"] = _attr_map(tree)
    row["entry_attributes"] = _attr_map(entry)
    return [row]


def _known_and_extra(node: dict[str, Any], known: dict[str, tuple[str, Any]]) -> dict[str, Any]:
    """Known fields by caster; the complement goes to additional_fields
    (reference extract_known_fields, schemas.py:367-382)."""
    out: dict[str, Any] = {}
    extra: dict[str, str] = {}
    for ds_name, value in _datasets(node).items():
        if ds_name in known:
            col, cast = known[ds_name]
            out[col] = cast(value)
        else:
            s = _to_str(value)
            if s is not None:
                extra[ds_name] = s
    for col, _ in known.values():
        out.setdefault(col, None)
    out["additional_fields"] = extra
    return out


def extract_sample(tree: dict[str, Any]) -> list[dict[str, Any]]:
    entry = tree.get("entry", {})
    sample = _groups(entry).get("sample")
    if sample is None:
        return []
    row = _keyed(tree)
    row.update(_known_and_extra(sample, {
        "name": ("name", _to_str),
        "nature": ("nature", _to_str),
        "chemical_formula": ("chemical_formula", _to_str),
        "mass": ("mass", _to_float),
        "temperature": ("temperature", _to_float),
    }))
    return [row]


def extract_instrument(tree: dict[str, Any]) -> list[dict[str, Any]]:
    entry = tree.get("entry", {})
    inst = _groups(entry).get("instrument")
    if inst is None:
        return []
    row = _keyed(tree)
    known = _known_and_extra(inst, {
        "name": ("name", _to_str),
        "beamline": ("beamline", _to_str),
        "instrument_xml": ("instrument_xml_data", _to_str),
    })
    # Nested instrument_xml group: flatten its datasets to one string
    # (reference handles nested instrument_xml, tests :231-240).
    xml_grp = _groups(inst).get("instrument_xml")
    if known.get("instrument_xml_data") is None and xml_grp is not None:
        parts = [_to_str(v) for _, v in sorted(_datasets(xml_grp).items())]
        known["instrument_xml_data"] = "\n".join(p for p in parts if p) or None
    row.update(known)
    return [row]


def extract_users(tree: dict[str, Any]) -> list[dict[str, Any]]:
    """One row per ``user*`` group, sorted by group name
    (reference sorts, parquet.py:275)."""
    entry = tree.get("entry", {})
    rows = []
    for gname in sorted(_groups(entry)):
        if not gname.startswith("user"):
            continue
        row = _keyed(tree)
        row["user_id"] = gname
        row.update(_known_and_extra(_groups(entry)[gname], {
            "name": ("name", _to_str),
            "facility_user_id": ("facility_user_id", _to_str),
            "role": ("role", _to_str),
        }))
        rows.append(row)
    return rows


def extract_software(tree: dict[str, Any]) -> list[dict[str, Any]]:
    entry = tree.get("entry", {})
    sw_parent = None
    for name, grp in _groups(entry).items():
        if name.lower() == "software":
            sw_parent = grp
            break
    if sw_parent is None:
        return []
    rows = []
    for comp, grp in sorted(_groups(sw_parent).items()):
        row = _keyed(tree)
        row["component"] = comp
        row.update(_known_and_extra(grp, {
            "name": ("name", _to_str),
            "version": ("version", _to_str),
        }))
        rows.append(row)
    return rows


def extract_daslogs(tree: dict[str, Any]) -> list[dict[str, Any]]:
    """Long-layout time series: one row per (log, sample point).

    Reference semantics (parquet.py:288-399): run-level stats repeated per
    row; ``Veto_pulse`` times-only logs get value 1.0 (:347-349); multi-dim
    values flattened (:356-362); time/value length mismatch truncates to
    the shorter (:365); stats-only logs emit one row with null time.
    """
    entry = tree.get("entry", {})
    daslogs = None
    for name, grp in _groups(entry).items():
        if name.lower() == "daslogs":
            daslogs = grp
            break
    if daslogs is None:
        return []
    rows = []
    for log_name, grp in sorted(_groups(daslogs).items()):
        ds = _datasets(grp)
        base = _keyed(tree)
        base.update({
            "log_name": log_name,
            "device_name": _to_str(ds.get("device_name")),
            "device_id": _to_str(ds.get("device_id")),
            "average_value": _to_float(ds.get("average_value")),
            "min_value": _to_float(ds.get("minimum_value")),
            "max_value": _to_float(ds.get("maximum_value")),
        })
        times = _decode(ds.get("time"))
        values = _decode(ds.get("value"))
        times = times if isinstance(times, list) else ([times] if times is not None else [])
        if values is None:
            # times-only log (Veto_pulse pattern): value 1.0 per sample
            values = [1.0] * len(times)
        elif not isinstance(values, list):
            values = [values]
        if times:
            n = min(len(times), len(values)) if values else 0
            for i in range(n):
                row = dict(base)
                row["time"] = _to_float(times[i])
                row["value"] = _to_str(values[i])
                row["value_numeric"] = _to_float(values[i])
                rows.append(row)
        elif base["average_value"] is not None or base["min_value"] is not None:
            row = dict(base)
            row.update({"time": None, "value": None, "value_numeric": None})
            rows.append(row)
    return rows


def pulse_times_from_tree(
    tree: dict[str, Any], time_log: str = "proton_charge"
) -> np.ndarray:
    """Sorted pulse-clock sample times from the named DAS log (reference
    parquet.py:864-876; CLI ``--time-log``, default proton_charge), with
    the reference's fallback aliases tried after it."""
    entry = tree.get("entry", {})
    for name, grp in _groups(entry).items():
        if name.lower() != "daslogs":
            continue
        logs = (time_log, "proton_charge", "SampleProtonCharge",
                "pcharge", "ProtonCharge")
        for log in dict.fromkeys(logs):
            lg = _groups(grp).get(log)
            if lg and "time" in _datasets(lg):
                if log != time_log:
                    import sys

                    # the user named a clock this file doesn't have —
                    # falling back changes pulse_time values, so say so
                    print(
                        f"nexus: DAS log {time_log!r} absent; pulse clock "
                        f"falling back to {log!r}",
                        file=sys.stderr,
                    )
                t = _decode(_datasets(lg)["time"])
                arr = np.asarray(t if isinstance(t, list) else [t], dtype="float64")
                return np.sort(arr)
    return np.array([], dtype="float64")


def event_bank_frames(
    tree: dict[str, Any],
    *,
    max_events: int | None = None,
    bank_filter: "Callable[[str], bool] | None" = None,
    time_log: str = "proton_charge",
) -> list[pd.DataFrame]:
    """Per-bank event frames with CSR pulse expansion — fully vectorized.

    Pinned semantics (reference parquet.py:402-499 + tests :403-441):
    banks are ``*_events`` / ``monitor*`` groups; ``event_index[p]`` is the
    first event ordinal of pulse p, last pulse owns the tail; pulse_time
    is a bounds-checked lookup into the sorted pulse clock; event_weight
    defaults to 1.0; ``max_events`` truncates per bank.

    Rows never pass through Python objects: columns are numpy arrays end
    to end (a billion-event bank costs array ops, not a billion dicts),
    and ``ingest_table`` hands the frames to Arrow unchanged.
    """
    entry = tree.get("entry", {})
    pulse_clock = pulse_times_from_tree(tree, time_log)
    inst, run, rid = run_key(tree)
    frames: list[pd.DataFrame] = []
    for gname, grp in sorted(_groups(entry).items()):
        if not (gname.endswith("_events") or gname.startswith("monitor")):
            continue
        if bank_filter is not None and not bank_filter(gname):
            continue  # pushed-down bank predicate: skip before any decode
        ds = _datasets(grp)
        if "event_id" not in ds or "event_time_offset" not in ds:
            continue
        ids = np.asarray(_decode(ds["event_id"]) or [], dtype="int64")
        offs = np.asarray(_decode(ds["event_time_offset"]) or [], dtype="float64")
        n = min(len(ids), len(offs))
        if max_events is not None:
            n = min(n, max_events)
        if n == 0:
            continue
        ids, offs = ids[:n], offs[:n]
        weights = ds.get("event_weight")
        w = (np.asarray(_decode(weights), dtype="float64")[:n]
             if weights is not None else np.ones(n))
        raw_index = _decode(ds.get("event_index"))
        starts = np.asarray(raw_index if isinstance(raw_index, list)
                            else ([raw_index] if raw_index is not None else [0]),
                            dtype="int64")
        # CSR: event i belongs to pulse p iff starts[p] <= i < starts[p+1];
        # searchsorted(side='right')-1 replaces the reference's O(pulses) loop.
        ordinals = np.arange(n, dtype="int64")
        pulse_idx = np.searchsorted(starts, ordinals, side="right") - 1
        pulse_idx = np.clip(pulse_idx, 0, None)
        if len(pulse_clock):
            lookup = pulse_clock[np.clip(pulse_idx, 0, len(pulse_clock) - 1)]
            ptimes = np.where(pulse_idx < len(pulse_clock), lookup, np.nan)
        else:
            ptimes = np.full(n, np.nan)
        frames.append(pd.DataFrame({
            "instrument_id": inst,
            "run_number": np.int64(run),
            "run_id": rid,
            "bank": gname,
            "event_idx": ordinals,
            "pulse_index": pulse_idx,
            "pulse_time": ptimes,
            "event_id": ids,
            "time_offset": offs,
            "event_weight": w,
        }))
    return frames


def extract_events(
    tree: dict[str, Any], *, max_events: int | None = None
) -> list[dict[str, Any]]:
    """Row-dict view of :func:`event_bank_frames` (tests / small inputs)."""
    rows: list[dict[str, Any]] = []
    for frame in event_bank_frames(tree, max_events=max_events):
        for rec in frame.to_dict("records"):
            pt = rec["pulse_time"]
            rec["pulse_time"] = None if pt is None or math.isnan(pt) else float(pt)
            rows.append(rec)
    return rows


def extract_event_summary(tree: dict[str, Any]) -> list[dict[str, Any]]:
    """Per-bank summary (reference parquet.py:761-772): total_counts from
    the file, n_pulses = len(event_index), events_extracted = emitted rows."""
    entry = tree.get("entry", {})
    key = _keyed(tree)
    rows = []
    for gname, grp in sorted(_groups(entry).items()):
        if not (gname.endswith("_events") or gname.startswith("monitor")):
            continue
        ds = _datasets(grp)
        if "event_id" not in ds:
            continue
        ids = _decode(ds.get("event_id")) or []
        idx = _decode(ds.get("event_index"))
        idx_list = idx if isinstance(idx, list) else ([idx] if idx is not None else [])
        rows.append({
            **key,
            "bank": gname,
            "total_counts": _to_int(ds.get("total_counts")),
            "n_pulses": len(idx_list),
            "events_extracted": len(ids) if isinstance(ids, list) else 1,
        })
    return rows


def extract_experiment_runs(tree: dict[str, Any], source_path: str = "",
                            ingestion_time: str = "") -> list[dict[str, Any]]:
    """Denormalized nested run document (J4: enrichment joins precomputed
    at write time — reference init_neutron_data.py:55-131)."""
    md = extract_metadata(tree, source_path, ingestion_time)[0]
    sample = extract_sample(tree)
    inst = extract_instrument(tree)
    row = {k: md[k] for k in (
        "instrument_id", "run_number", "run_id", "title", "start_time",
        "end_time", "duration", "proton_charge", "total_counts",
        "experiment_identifier", "source_file", "ingestion_time",
    )}
    row["sample"] = ({k: sample[0].get(k) for k in
                      ("name", "nature", "chemical_formula", "mass", "temperature")}
                     if sample else None)
    row["instrument"] = ({k: inst[0].get(k) for k in ("name", "beamline")}
                         if inst else None)
    row["software"] = [{k: s.get(k) for k in ("component", "name", "version")}
                       for s in extract_software(tree)] or None
    row["users"] = [{k: u.get(k) for k in ("name", "role", "facility_user_id")}
                    for u in extract_users(tree)] or None
    return [row]


EXTRACTORS = {
    "metadata": extract_metadata,
    "sample": lambda tree, source_path="", ingestion_time="": extract_sample(tree),
    "instrument": lambda tree, source_path="", ingestion_time="": extract_instrument(tree),
    "software": lambda tree, source_path="", ingestion_time="": extract_software(tree),
    "users": lambda tree, source_path="", ingestion_time="": extract_users(tree),
    "daslogs": lambda tree, source_path="", ingestion_time="": extract_daslogs(tree),
    "events": lambda tree, source_path="", ingestion_time="": extract_events(tree),
    "event_summary": lambda tree, source_path="", ingestion_time="": extract_event_summary(tree),
    "experiment_runs": extract_experiment_runs,
}


# ---------------------------------------------------------------------------
# Distributed driver
# ---------------------------------------------------------------------------


def ingest_table(
    spark: SparkSession,
    paths: Iterable[str],
    table: str,
    *,
    ingestion_time: str = "",
    skip_bad_files: bool = False,
    max_events: int | None = None,
    time_log: str = "proton_charge",
) -> DataFrame:
    """Parse ``paths`` into one typed DataFrame for ``table``.

    ``max_events`` caps events PER BANK at extraction (reference CLI
    ``--max-events``, parquet.py:460-461); ignored for non-event tables.

    One task per file (repartition on the path list); extraction happens
    executor-side inside ``mapInPandas``; the output schema is the declared
    StructType — never inferred.

    ``skip_bad_files`` trades fail-fast for availability: unreadable or
    malformed files are logged to task stderr and skipped, so one corrupt
    file among a hundred thousand doesn't kill the ingest job (the
    reference's single-process CLI simply exits 1, cli.py:74-85).
    """
    schema, _ = TABLES[table]
    extractor = EXTRACTORS[table]
    cols = [f.name for f in schema.fields]
    path_list = list(paths)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        for batch in batches:
            for path in batch["path"]:
                try:
                    tree = load_tree(path)
                    if table == "events":
                        # vectorized fast path: numpy-backed frames
                        # straight into Arrow, no per-event Python objects
                        yield from (
                            f[cols] for f in
                            event_bank_frames(tree, max_events=max_events,
                                              time_log=time_log)
                        )
                        continue
                    rows = extractor(tree, source_path=path,
                                     ingestion_time=ingestion_time) \
                        if table in ("metadata", "experiment_runs") else extractor(tree)
                except Exception:
                    if not skip_bad_files:
                        raise
                    print(f"nexus ingest: skipping bad file {path!r}",
                          file=sys.stderr)
                    continue
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    files = spark.createDataFrame([(p,) for p in path_list], "path string")
    files = files.repartition(max(len(path_list), 1))
    return files.mapInPandas(parse, schema=schema)

