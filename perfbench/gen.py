"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments and
writes its files in a fixed byte order, so the same seed always yields
byte-identical inputs (``test_perfbench.py`` asserts this). Nothing here
imports Spark: inputs are made before the engine starts, and the
plain-Python reference answers in ``reference.py`` read the same
in-memory items the files were written from.
"""

from __future__ import annotations

import csv
import io
import json
import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "buffer overflow remote attacker crafted request allows execute "
    "arbitrary code denial service memory corruption via parameter "
    "injection improper validation input heap use after free kernel "
    "driver web interface authentication bypass privilege escalation"
).split()
VENDORS = ["acme", "globex", "initech", "umbrella", "hooli", "stark"]
PRODUCTS = ["server", "router", "browser", "kernel", "office", "gateway"]
# ids of the synthetic CWE catalog; problem labels also use CWE-1234
# (not in the catalog) and NVD-CWE-* labels, which never join to it.
CWE_IDS = [20, 22, 78, 79, 89, 119, 125, 200, 287, 352, 400, 416, 434, 476, 787, 862]
V3_SEVERITY = [(9.0, "CRITICAL"), (7.0, "HIGH"), (4.0, "MEDIUM"), (0.1, "LOW")]
V2_SEVERITY = [(7.0, "HIGH"), (4.0, "MEDIUM"), (0.0, "LOW")]


def _severity(score: float, table) -> str:
    return next(name for floor, name in table if score >= floor)


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _cpe(rng: random.Random) -> str:
    part = rng.choice("aoh")
    ver = f"{rng.randrange(1, 6)}.{rng.randrange(0, 10)}"
    return f"cpe:2.3:{part}:{rng.choice(VENDORS)}:{rng.choice(PRODUCTS)}:{ver}:*:*:*:*:*:*:*"


def _cpe_match(rng: random.Random) -> list[dict]:
    out = []
    for _ in range(rng.randrange(1, 4)):
        m = {"vulnerable": rng.random() < 0.7}
        if rng.random() < 0.9:  # some entries carry no cpe23Uri
            m["cpe23Uri"] = _cpe(rng)
        out.append(m)
    return out


def _node(rng: random.Random) -> dict:
    """One configuration node, covering every branch of the flatten walk:
    own cpe_match; children with matches; children lacking cpe_match;
    an empty children list; children plus an (ignored) own cpe_match."""
    kind = rng.random()
    if kind < 0.45:
        return {"operator": "OR", "cpe_match": _cpe_match(rng)}
    if kind < 0.75:
        children = []
        for _ in range(rng.randrange(1, 3)):
            child = {"operator": "OR"}
            if rng.random() < 0.8:
                child["cpe_match"] = _cpe_match(rng)
            children.append(child)
        return {"operator": "AND", "children": children}
    if kind < 0.85:
        return {"operator": "AND", "children": []}
    return {
        "operator": "AND",
        "children": [{"operator": "OR", "cpe_match": _cpe_match(rng)}],
        "cpe_match": _cpe_match(rng),
    }


def _impact(rng: random.Random) -> dict:
    impact = {}
    if rng.random() < 0.7:
        s3 = round(rng.uniform(1.0, 10.0), 1)
        impact["baseMetricV3"] = {
            "cvssV3": {
                "vectorString": f"CVSS:3.1/AV:N/AC:L/PR:N/UI:N/S:U/C:H/I:H/A:{rng.choice('HLN')}",
                "attackVector": rng.choice(["NETWORK", "LOCAL", "ADJACENT_NETWORK"]),
                "attackComplexity": rng.choice(["LOW", "HIGH"]),
                "privilegesRequired": rng.choice(["NONE", "LOW", "HIGH"]),
                "userInteraction": rng.choice(["NONE", "REQUIRED"]),
                "scope": rng.choice(["UNCHANGED", "CHANGED"]),
                "confidentialityImpact": rng.choice(["HIGH", "LOW", "NONE"]),
                "integrityImpact": rng.choice(["HIGH", "LOW", "NONE"]),
                "availabilityImpact": rng.choice(["HIGH", "LOW", "NONE"]),
                "baseScore": s3,
                "baseSeverity": _severity(s3, V3_SEVERITY),
            },
            "exploitabilityScore": round(rng.uniform(0.1, 3.9), 1),
            "impactScore": round(rng.uniform(0.1, 6.0), 1),
        }
    if rng.random() < 0.85:
        s2 = round(rng.uniform(0.0, 10.0), 1)
        v2 = {
            "cvssV2": {
                "vectorString": f"AV:N/AC:L/Au:N/C:{rng.choice('PNC')}/I:P/A:P",
                "accessVector": rng.choice(["NETWORK", "LOCAL"]),
                "accessComplexity": rng.choice(["LOW", "MEDIUM", "HIGH"]),
                "authentication": rng.choice(["NONE", "SINGLE"]),
                "confidentialityImpact": rng.choice(["PARTIAL", "NONE", "COMPLETE"]),
                "integrityImpact": rng.choice(["PARTIAL", "NONE", "COMPLETE"]),
                "availabilityImpact": rng.choice(["PARTIAL", "NONE", "COMPLETE"]),
                "baseScore": s2,
            },
            "severity": _severity(s2, V2_SEVERITY),
            "exploitabilityScore": round(rng.uniform(1.0, 10.0), 1),
            "impactScore": round(rng.uniform(1.0, 10.0), 1),
            "obtainAllPrivilege": rng.random() < 0.1,
            "obtainOtherPrivilege": rng.random() < 0.1,
            "obtainUserPrivilege": rng.random() < 0.1,
        }
        if rng.random() < 0.5:  # the V2-only userInteractionRequired branch
            v2["userInteractionRequired"] = rng.random() < 0.3
        impact["baseMetricV2"] = v2
    return impact


def _description(rng: random.Random) -> list[dict]:
    parts = []
    for _ in range(rng.randrange(1, 4)):
        text = _sentence(rng, rng.randrange(4, 14))
        r = rng.random()
        if r < 0.15:
            text += "\r\n" + _sentence(rng, 3)
        elif r < 0.3:
            text += "\t" + _sentence(rng, 2)
        elif r < 0.4:
            text += "\n"
        parts.append({"lang": "en", "value": text})
    return parts


def _problems(rng: random.Random) -> list[dict]:
    labels = []
    for _ in range(rng.randrange(0, 3)):
        r = rng.random()
        if r < 0.15:
            labels.append("NVD-CWE-Other")
        elif r < 0.25:
            labels.append("NVD-CWE-noinfo")
        else:
            labels.append(f"CWE-{rng.choice(CWE_IDS + [1234])}")
    return [{"description": [{"lang": "en", "value": v} for v in labels]}]


def nvd_item(rng: random.Random, year: int, seq: int) -> dict:
    day = rng.randrange(0, 365)
    month, dom = 1 + day // 31, 1 + day % 28
    pub = f"{year}-{month:02d}-{dom:02d}T{rng.randrange(24):02d}:{rng.randrange(60):02d}Z"
    mod_year = year + rng.randrange(0, 2)
    mod = f"{mod_year}-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}T08:00Z"
    return {
        "cve": {
            "CVE_data_meta": {"ID": f"CVE-{year}-{seq:05d}", "ASSIGNER": "cve@mitre.org"},
            "problemtype": {"problemtype_data": _problems(rng)},
            "description": {"description_data": _description(rng)},
        },
        "configurations": {
            "CVE_data_version": "4.0",
            "nodes": [_node(rng) for _ in range(rng.randrange(0, 4))],
        },
        "impact": _impact(rng),
        "publishedDate": pub,
        "lastModifiedDate": mod,
    }


def _year_rng(seed: int, year: int) -> random.Random:
    return random.Random(seed * 10_007 + year)


def nvd_feeds(seed: int, years: list[int], items_per_year: int) -> dict[int, list[dict]]:
    """CVE items per year; each year draws from its own stream, so a
    year's items do not depend on how many other years are generated."""
    out = {}
    for y in years:
        rng = _year_rng(seed, y)
        out[y] = [nvd_item(rng, y, i) for i in range(items_per_year)]
    return out


def write_feed(path: Path, year: int, items: list[dict]) -> int:
    """One NVD JSON 1.1 year file; returns its size in bytes."""
    feed = {
        "CVE_data_type": "CVE",
        "CVE_data_format": "MITRE",
        "CVE_data_version": "4.0",
        "CVE_data_numberOfCVEs": str(len(items)),
        "CVE_data_timestamp": f"{year}-12-31T23:59Z",
        "CVE_Items": items,
    }
    data = json.dumps(feed, separators=(",", ":")).encode()
    path.write_bytes(data)
    return len(data)


CWE_HEADER = [
    "CWE-ID", "Name", "Weakness Abstraction", "Status", "Description",
    "Extended Description", "Related Weaknesses", "Weakness Ordinalities",
    "Applicable Platforms", "Background Details", "Alternate Terms",
    "Modes Of Introduction", "Exploitation Factors", "Likelihood of Exploit",
    "Common Consequences", "Detection Methods", "Potential Mitigations",
    "Observed Examples", "Functional Areas", "Affected Resources",
    "Taxonomy Mappings", "Related Attack Patterns", "Notes",
]


def cwe_rows(seed: int) -> list[dict]:
    """The catalog as the seven columns ``read_cwe_csv`` keeps."""
    rng = random.Random(seed * 7 + 1)
    rows = []
    for cid in CWE_IDS:
        rows.append({
            "cwe_id": cid,
            "name": f"Weakness {cid}: {_sentence(rng, 3)} ('quoted')",
            "description": _sentence(rng, 8) + ", with a comma",
            "extended_description": f'{_sentence(rng, 5)} and "{rng.choice(WORDS)}"',
            "modes_of_introduction": "Phase: Implementation",
            "common_consequences": f"Confidentiality: {_sentence(rng, 2)}",
            "potential_mitigations": f"Phase: Design\n{_sentence(rng, 4)}.",
        })
    return rows


def write_cwe_csv(path: Path, rows: list[dict]) -> None:
    """MITRE 1000.csv layout: 23 header columns and a trailing comma per
    record, quoted multi-line fields, doubled embedded quotes."""
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n", quoting=csv.QUOTE_MINIMAL)
    w.writerow(CWE_HEADER)
    for r in rows:
        rec = [""] * (len(CWE_HEADER) + 1)
        rec[0], rec[1], rec[2], rec[3] = str(r["cwe_id"]), r["name"], "Base", "Stable"
        rec[4], rec[5] = r["description"], r["extended_description"]
        rec[11], rec[14], rec[16] = (
            r["modes_of_introduction"], r["common_consequences"], r["potential_mitigations"],
        )
        w.writerow(rec)
    path.write_bytes(buf.getvalue().encode())


# -- analytics tables ---------------------------------------------------

VOCAB = (
    "spark sql batch part line column order small big sort fast slow "
    "value scan hash group query agg table key filter stream merge "
    "join window customer vector the a"
).split()
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def analytics_tables(out: Path, seed: int, scale: float) -> int:
    """The ten engine testdata tables, with the names, columns and types
    of the sf tables in TESTDATA.md, sized by ``scale`` (1.0 is about the
    sf0.01 row counts). Returns the bytes written."""
    rng = np.random.default_rng(seed)
    n = {
        "documents": int(500 * scale), "embeddings": int(500 * scale),
        "events": int(10_000 * scale), "lineitem": int(60_000 * scale),
        "orders": int(15_000 * scale), "customer": int(1_500 * scale),
        "part": int(2_000 * scale), "supplier": int(100 * scale),
    }
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([name for name, _ in NATIONS]),
            "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
        }),
    }
    texts: list[str] = []
    for i in range(n["documents"]):
        if i % 50 == 49 and texts:  # planted exact duplicate
            texts.append(texts[-1])
        elif i % 25 == 24 and texts:  # planted near duplicate: one word
            w = texts[-1].split()
            w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "zh", "fr", "es", "de"], len(texts), p=[0.41, 0.15, 0.15, 0.15, 0.14])),
        "source": pa.array([f"src{i % 20}" for i in range(len(texts))]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    ne, d, k = n["embeddings"], 64, 10
    centers = rng.normal(0, 0.18, size=(k, d))
    labels = rng.integers(0, k, size=ne)
    vecs = (centers[labels] + rng.normal(0, 0.07, size=(ne, d))).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(ne), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })
    nv = n["events"]
    base = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = base + (rng.random(nv) * span_us).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(range(nv), pa.int64()),
        "ts": pa.array(np.sort(ts), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, nv), pa.int64()),
        "event_type": pa.array(rng.choice(["view", "click", "purchase", "signup", "error"], nv)),
        "value": pa.array(np.round(rng.random(nv) * 100, 2), pa.float64()),
        "props": pa.array([f'{{"k": {int(v)}}}' for v in rng.integers(0, 100, nv)]),
    })
    day = np.timedelta64(1, "D")
    d0 = np.datetime64("1995-01-01", "us")
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], no)),
        "o_totalprice": pa.array(np.round(rng.random(no) * 400_000 + 900, 2), pa.float64()),
        "o_orderdate": pa.array(d0 + (rng.integers(0, 2400, no) * day).astype("timedelta64[us]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)),
    })
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.random(nc) * 11_000 - 1_000, 2), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc)),
    })
    npart = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": pa.array([" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), 3)) for _ in range(npart)]),
        "p_brand": pa.array([f"Brand#{i % 25}" for i in range(npart)]),
        "p_type": pa.array(rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], npart)),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32), pa.int32()),
        "p_retailprice": pa.array(np.round(rng.random(npart) * 2_000 + 900, 2), pa.float64()),
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.random(ns) * 11_000 - 1_000, 2), pa.float64()),
    })
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(np.round(rng.random(nl) * 90_000 + 900, 2), pa.float64()),
        "l_discount": pa.array(np.round(rng.integers(0, 11, nl) / 100.0, 2), pa.float64()),
        "l_tax": pa.array(np.round(rng.integers(0, 9, nl) / 100.0, 2), pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], nl)),
        "l_shipdate": pa.array(d0 + (rng.integers(0, 2500, nl) * day).astype("timedelta64[us]"), pa.timestamp("us")),
    })
    out.mkdir(parents=True, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = out / f"{name}.parquet"
        pq.write_table(table, str(path))
        total += path.stat().st_size
    return total


# -- event micro-batches -------------------------------------------------

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()),
])


def event_batches(seed: int, n_batches: int, batch_rows: int, overlap: float) -> list[dict]:
    """Micro-batches of events as column lists. A share ``overlap`` of
    each batch (after the first) re-uses keys landed earlier, with a
    strictly later ``ts`` so the newest row per key is unambiguous; keys
    are unique within a batch (the MERGE contract)."""
    rng = np.random.default_rng(seed)
    base = np.datetime64("2024-03-01T00:00:00", "us")
    batches, next_id = [], 0
    for b in range(n_batches):
        n_old = int(batch_rows * overlap) if b else 0
        old = rng.choice(next_id, size=n_old, replace=False) if n_old else np.empty(0, np.int64)
        new = np.arange(next_id, next_id + batch_rows - n_old, dtype=np.int64)
        next_id += batch_rows - n_old
        ids = np.concatenate([old.astype(np.int64), new])
        # each batch covers its own ~6 hour slice, so ts grows per batch
        offs = (b * 6 * 3600 + rng.integers(0, 6 * 3600, ids.size)) * 1_000_000
        batches.append({
            "event_id": ids.tolist(),
            "ts": (base + offs.astype("timedelta64[us]")).tolist(),
            "user_id": rng.integers(0, 500, ids.size).tolist(),
            "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], ids.size).tolist(),
            "value": np.round(rng.random(ids.size) * 100, 2).tolist(),
        })
    return batches


def write_event_batch(path: Path, batch: dict) -> int:
    pq.write_table(pa.table(batch, schema=EVENT_SCHEMA), str(path))
    return path.stat().st_size
