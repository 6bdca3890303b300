"""Seeded input generators for the benchmark workloads.

Each generator writes a workload's inputs under a directory and returns
what the correctness gate needs to check the program's outputs: the
expected-output digest computed from what was encoded. The same seed
gives byte-identical files; the program only ever sees the files.
"""
import base64
import hashlib
import io
import json
import os
import random
import tarfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIGNAL_NS = "http://uptake.com/bhp/1/sensors"
VEHICLE_NS = "http://www.uptake.com/bhp/1/vehicleComponent"
SIGNALS = ["ACOUSTIC", "IMPACT", "TEMPERATURE", "VISUAL"]
READING_TYPES = SIGNALS + ["vehicleComponent"]

# The lambda transform's declared output columns, in order
# (graft.operators.LambdaTransform.Attrs ++ Readings).
ATTRS = ["vehicleIdentifier", "componentIdentifier", "positionInTrain",
         "typeOfReading", "readingTimestampUTC", "readingLocation", "sourceSystem"]
READINGS = [
    "SensorDataQualityDescription", "SiteTimeZoneId", "SiteName",
    "TrainDirection", "VehicleTag", "VehicleEndLeading", "TrackSide",
    "TrainAxleNumber", "VehicleAxleNumber", "VehicleSide",
    "RailBAMBearingFaultCode", "RailBAMWheelFaultCode", "RMSTotalDB",
    "RMSBandDB", "LooseFrettingDB", "RollerDB", "CupDB", "ConeDB",
    "NoisyDB", "RMSBandWheelflatDB", "WheelflatDB", "TrainVehicleNumber",
    "WHEEL_TEMPERATURE", "BEARING_TEMPERATURE", "weight", "weight_UoM",
    "vertical_peak_UoM", "vertical_peak", "speed", "speed_UoM",
    "BrokenSpringDefect"]
UOM_READINGS = ["weight", "vertical_peak", "speed"]
READING_NAMES = [r for r in READINGS if not r.endswith("_UoM")]
LAMBDA_COLUMNS = ATTRS + READINGS

# Unpack and flatten sizing. The pipeline selects SELECTED_TYPES in
# SELECTED_MONTH; every other (type, month) partition is written too, one
# small archive each, so that partition pruning has something to skip.
ETL_YEAR = 2022
SELECTED_TYPES = ["ACOUSTIC", "vehicleComponent"]
SELECTED_MONTH = 11
OTHER_MONTH = 10
ETL_DAYS_PER_MONTH = 2
ETL_ARCHIVES_PER_PARTITION = 3
ETL_MEMBERS_PER_ARCHIVE = 8
ETL_DOCS_PER_MEMBER = 10

# Replay sizing: REPLAY_GROUP_RECORDS records share each event
# timestamp; groups are REPLAY_GROUP_GAP_MS event-time ms apart.
REPLAY_GROUPS = 300
REPLAY_GROUP_RECORDS = 10
REPLAY_GROUP_GAP_MS = 20
REPLAY_BASE_TS = 1_660_000_000_000
# The paced phases replay a thinner recording of their own, so that the
# offered rate stays well below the micro-batch path's capacity and the
# per-trigger machinery, not a growing batch, sets latency.
PACED_GROUPS = 300
PACED_GROUP_RECORDS = 2

DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
             "fast", "filter", "group", "hash", "join", "key", "line", "merge",
             "order", "part", "query", "row", "scan", "slow", "small", "sort",
             "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
N_DOCS = 500
N_VECS = 500
DIM = 64
N_LABELS = 10


def _token(rng, n=8):
    return "".join(rng.choice("ABCDEFGHJKLMNPQRSTUVWXYZ0123456789") for _ in range(n))


def _number(rng):
    return f"{rng.uniform(0, 200):.2f}"


def rows_digest(rows):
    """Order-independent digest of rows given as dicts; None values and
    absent keys are the same (an empty CSV cell)."""
    lines = sorted(json.dumps(sorted((k, v) for k, v in r.items() if v is not None))
                   for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest(), len(lines)


# ---------------------------------------------------------------- etl

def _signal_doc(rng, reading_type, serial):
    attrs = {
        "vehicleIdentifier": f"V{serial}",
        "componentIdentifier": _token(rng, 6),
        "positionInTrain": str(rng.randint(1, 120)),
        "typeOfReading": reading_type,
        "readingTimestampUTC": f"2022-11-{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:00:00Z",
        "readingLocation": f"SITE{rng.randint(0, 30)}",
        "sourceSystem": rng.choice(["RailBAM", "WILD", "TADS"]),
    }
    readings = []
    for name in rng.sample(READING_NAMES, rng.randint(0, 8)):
        uom = rng.choice(["kg", "t", "kmh", "mm"]) if name in UOM_READINGS else None
        readings.append((name, _number(rng), uom))
    p = "NS1:"
    body = "".join(f"<{p}{k}>{v}</{p}{k}>" for k, v in attrs.items())
    if readings:
        rs = []
        for name, value, uom in readings:
            u = f"<{p}attributeUoM>{uom}</{p}attributeUoM>" if uom else ""
            rs.append(f"<{p}reading><{p}attributeName>{name}</{p}attributeName>"
                      f"<{p}attributeValue>{value}</{p}attributeValue>{u}</{p}reading>")
        body += f"<{p}readingCollection>{''.join(rs)}</{p}readingCollection>"
    xml = (f'<NS1:message xmlns:NS1="{SIGNAL_NS}"><{p}messagePayload>{body}'
           f"</{p}messagePayload></NS1:message>")
    return xml, attrs, readings


def _flatten_signal(reading_type, attrs, readings):
    row = {"partition_id": reading_type, **attrs}
    for name, value, uom in readings:
        row[name] = value
        if uom is not None:
            row[name + "_UoM"] = uom
    return [row]


def _component(rng, depth, serial):
    code = f"C{serial}-{_token(rng, 5)}"
    scalars = {"componentCode": code, "serialNumber": _token(rng, 7)}
    attrs = []
    for name in rng.sample(["manufacturer", "model", "installDate", "decommissionDate",
                            "axleLoad", "gauge"], rng.randint(0, 4)):
        attrs.append((name, _token(rng, 5) if rng.random() < 0.8 else None))
    subs = [_component(rng, depth + 1, serial) for _ in range(rng.randint(0, 2))] if depth < 2 else []
    return scalars, attrs, subs


def _component_xml(c):
    scalars, attrs, subs = c
    p = "NS1:"
    out = "".join(f"<{p}{k}>{v}</{p}{k}>" for k, v in scalars.items())
    if attrs:
        a = "".join(
            f"<{p}attribute><{p}attributeName>{n}</{p}attributeName>"
            + (f"<{p}attributeValue>{v}</{p}attributeValue>" if v is not None else "")
            + f"</{p}attribute>" for n, v in attrs)
        out += f"<{p}componentAttributeCollection>{a}</{p}componentAttributeCollection>"
    if subs:
        out += f"<{p}subcomponentCollection>{''.join(_component_xml(s) for s in subs)}</{p}subcomponentCollection>"
    return f"<{p}component>{out}</{p}component>"


def _flatten_component(c, parent_code, root_attrs, out):
    scalars, attrs, subs = c
    for s in subs:
        _flatten_component(s, scalars["componentCode"], root_attrs, out)
    row = {"partition_id": "vehicleComponent", **root_attrs, **scalars}
    for n, v in attrs:
        row[n] = v
    row["parent_code"] = parent_code
    out.append(row)


def _vehicle_doc(rng, serial):
    root_attrs = {"vehicleIdentifier": f"V{serial}", "vehicleType": rng.choice(["WAGON", "LOCO"]),
                  "fleet": f"F{rng.randint(1, 9)}"}
    comps = [_component(rng, 0, serial) for _ in range(rng.randint(1, 3))]
    p = "NS1:"
    body = "".join(f"<{p}{k}>{v}</{p}{k}>" for k, v in root_attrs.items())
    body += f"<{p}componentCollection>{''.join(_component_xml(c) for c in comps)}</{p}componentCollection>"
    xml = f'<NS1:vehicleComponent xmlns:NS1="{VEHICLE_NS}">{body}</NS1:vehicleComponent>'
    rows = []
    for c in comps:
        _flatten_component(c, None, root_attrs, rows)
    return xml, rows


def _tar(members):
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            info.mode = 0o644
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def gen_etl(seed, root, expected=None):
    """Tar archives of concatenated XML documents under
    root/etl/raw/type=T/year=Y/month=M/day=D/. Returns, per selected
    reading type, the document count and the digest of the wide CSV rows
    its documents must flatten to. `expected`, if given, is filled with
    those rows per type."""
    rng = random.Random(f"etl-{seed}")
    expected = {t: [] for t in SELECTED_TYPES} if expected is None else expected
    expected.update({t: [] for t in SELECTED_TYPES})
    docs = {t: 0 for t in SELECTED_TYPES}
    serial = 0
    for t in READING_TYPES:
        for month in (OTHER_MONTH, SELECTED_MONTH):
            selected = t in SELECTED_TYPES and month == SELECTED_MONTH
            archives, members_per, docs_per = (
                (ETL_ARCHIVES_PER_PARTITION, ETL_MEMBERS_PER_ARCHIVE, ETL_DOCS_PER_MEMBER)
                if selected else (1, 1, 2))
            for day in sorted(rng.sample(range(1, 29), ETL_DAYS_PER_MONTH)):
                d = os.path.join(root, "etl", "raw", f"type={t}", f"year={ETL_YEAR}",
                                 f"month={month:02d}", f"day={day:02d}")
                os.makedirs(d, exist_ok=True)
                for a in range(archives):
                    members = []
                    for m in range(members_per):
                        xmls = []
                        for _ in range(docs_per):
                            serial += 1
                            if t in SIGNALS:
                                xml, attrs, readings = _signal_doc(rng, t, serial)
                                rows = _flatten_signal(t, attrs, readings)
                            else:
                                xml, rows = _vehicle_doc(rng, serial)
                            xmls.append(xml)
                            if selected:
                                expected[t].extend(rows)
                                docs[t] += 1
                        members.append((f"member_{m:03d}.xml", "\n".join(xmls).encode()))
                    with open(os.path.join(d, f"archive_{a:03d}.tar"), "wb") as f:
                        f.write(_tar(members))
    digests = {t: rows_digest(rows) for t, rows in expected.items()}
    return {"docs": docs,
            "csv": {t: {"sha256": h, "rows": n} for t, (h, n) in digests.items()}}


# ------------------------------------------------------------- replay

def _lambda_record(attrs, readings):
    rec = dict(attrs)
    for name, value, uom in readings:
        rec[name] = value
        if name in UOM_READINGS:
            rec[name + "_UoM"] = uom
    return json.dumps({c: rec[c] for c in LAMBDA_COLUMNS if rec.get(c) is not None},
                      separators=(",", ":"))


def gen_replay(seed, root, name="recording", groups=REPLAY_GROUPS,
               group_records=REPLAY_GROUP_RECORDS):
    """A recording (ts epoch ms, key, base64 signal XML) of `groups`
    timestamp groups of `group_records` records, written as
    replay/<name>.parquet. Returns, per record, its partition key, the
    sha256 of the transformed record the sink must receive, and its event
    timestamp."""
    rng = random.Random(f"{name}-{seed}")
    ts, keys, payloads, expect = [], [], [], []
    serial = 0
    for g in range(groups):
        t = REPLAY_BASE_TS + g * REPLAY_GROUP_GAP_MS
        for _ in range(group_records):
            serial += 1
            reading_type = rng.choice(SIGNALS)
            xml, attrs, readings = _signal_doc(rng, reading_type, serial)
            ts.append(t)
            keys.append(reading_type)
            payloads.append(base64.b64encode(xml.encode()).decode())
            data = _lambda_record(attrs, readings).encode()
            expect.append([reading_type, hashlib.sha256(data).hexdigest(), t])
    d = os.path.join(root, "replay")
    os.makedirs(d, exist_ok=True)
    table = pa.table({"ts": pa.array(ts, pa.int64()), "key": pa.array(keys, pa.string()),
                      "payload": pa.array(payloads, pa.string())})
    pq.write_table(table, os.path.join(d, f"{name}.parquet"))
    return {"records": expect, "base_ts": REPLAY_BASE_TS}


# ----------------------------------------------------------- registry

def gen_tables(seed, root):
    """documents and embeddings tables with the driver tables' schemas
    (doc_id, text, lang, source, n_chars) and (vec_id, embedding
    float[64] unit-norm, label)."""
    rng = np.random.default_rng(seed)
    d = os.path.join(root, "tables")
    os.makedirs(d, exist_ok=True)
    n_words = rng.integers(10, 100, N_DOCS)
    texts = [" ".join(rng.choice(DOC_WORDS, n)) for n in n_words]
    docs = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_WEIGHTS), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(d, "documents.parquet"))
    labels = rng.integers(0, N_LABELS, N_VECS)
    centers = rng.normal(size=(N_LABELS, DIM))
    vecs = centers[labels] * 0.5 + rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(emb, os.path.join(d, "embeddings.parquet"))
    return {"tables": ["documents", "embeddings"]}


def gen_pipeline(seed, root):
    """Inputs of both halves of the pipeline: the archives for unpack and
    flatten, and the recordings for replay and produce (drained, paced)."""
    return {"etl": gen_etl(seed, root), "replay": gen_replay(seed, root),
            "paced": gen_replay(seed, root, "paced", PACED_GROUPS, PACED_GROUP_RECORDS)}


GENERATORS = {"pipeline": gen_pipeline, "registry": gen_tables}


def generate(workload, seed, root):
    """Write `workload`'s inputs for `seed` under `root`; return (and
    save as root/expected.json) what the correctness gate checks."""
    os.makedirs(root, exist_ok=True)
    expected = GENERATORS[workload](seed, root)
    with open(os.path.join(root, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected
