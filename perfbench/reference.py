"""Plain-Python answers for the CVE lookups, from the generated items.

These follow the reference tool's semantics, not the engine's code:
- the CPE walk takes a node's ``children`` matches only when it has
  children (an empty list emits nothing) and its own ``cpe_match``
  otherwise, and drops entries without ``cpe23Uri``;
- ``vulnerable`` is spelled ``'True'``/``'False'``;
- the score filter is SQL's three-valued OR of the V3 and V2 scores;
- the date bound is ``published_date >= date``;
- the CWE label is ``lstrip('CWE-')`` and joins only when all digits.
Rows are compared as sorted tuples of normalized cells.
"""

from __future__ import annotations

import datetime as dt


def _get(d, *path):
    for p in path:
        if not isinstance(d, dict) or p not in d:
            return None
        d = d[p]
    return d


def _date(s: str | None):
    return dt.date.fromisoformat(s[:10]) if s else None


def cvss_row(item: dict) -> dict:
    v3 = _get(item, "impact", "baseMetricV3") or {}
    v2 = _get(item, "impact", "baseMetricV2") or {}
    text = "".join(d["value"] for d in item["cve"]["description"]["description_data"])
    return {
        "cve": item["cve"]["CVE_data_meta"]["ID"],
        "vector_string_3": _get(v3, "cvssV3", "vectorString"),
        "base_score_3": _get(v3, "cvssV3", "baseScore"),
        "base_severity_3": _get(v3, "cvssV3", "baseSeverity"),
        "vector_string": _get(v2, "cvssV2", "vectorString"),
        "base_score": _get(v2, "cvssV2", "baseScore"),
        "severity": v2.get("severity"),
        "description": text.translate(str.maketrans("\r\n\t", "   ")),
        "published_date": _date(item.get("publishedDate")),
        "last_modified_date": _date(item.get("lastModifiedDate")),
    }


def problem_rows(item: dict) -> list[tuple[str, str]]:
    cve = item["cve"]["CVE_data_meta"]["ID"]
    return [
        (cve, d["value"])
        for pt in item["cve"]["problemtype"]["problemtype_data"]
        for d in pt["description"]
    ]


def _pybool(v):
    return None if v is None else ("True" if v else "False")


def cpe_rows(item: dict) -> list[tuple[str, str, str]]:
    cve = item["cve"]["CVE_data_meta"]["ID"]
    out = []
    for node in item["configurations"]["nodes"]:
        if "children" in node:
            matches = [m for c in node["children"] for m in c.get("cpe_match", [])]
        else:
            matches = node.get("cpe_match", [])
        out += [(cve, m["cpe23Uri"], _pybool(m.get("vulnerable"))) for m in matches if "cpe23Uri" in m]
    return out


class CveReference:
    """Flattened relations of all generated items, and the five lookups."""

    def __init__(self, items: list[dict], cwe: list[dict]):
        self.cvss = [cvss_row(i) for i in items]
        self.problems = [p for i in items for p in problem_rows(i)]
        self.cpe = [c for i in items for c in cpe_rows(i)]
        self.cwe = {r["cwe_id"]: r for r in cwe}

    def counts(self) -> dict[str, int]:
        return {"cvss": len(self.cvss), "cve_problem": len(self.problems), "cpe": len(self.cpe)}

    def cve_detail(self, cve_id: str) -> dict[str, list[tuple]]:
        summary_cols = ("cve", "vector_string_3", "base_score_3", "base_severity_3",
                        "vector_string", "base_score", "severity", "description",
                        "published_date", "last_modified_date")
        summary = [tuple(r[c] for c in summary_cols) for r in self.cvss if cve_id in r["cve"]]
        problems = []
        for cve, label in self.problems:
            if cve_id in cve:
                num = label.lstrip("CWE-")
                row = self.cwe.get(int(num)) if num.isascii() and num.isdigit() else None
                problems.append((cve, label, row["name"] if row else None))
        cpes = [(cve, uri) for cve, uri, vul in self.cpe if cve_id in cve and vul == "True"]
        return {"summary": sorted(summary, key=repr), "problems": sorted(problems, key=repr),
                "cpes": sorted(cpes, key=repr)}

    def cwe_detail(self, cwe_id: int) -> list[tuple]:
        r = self.cwe.get(cwe_id)
        cols = ("cwe_id", "name", "description", "extended_description",
                "modes_of_introduction", "common_consequences", "potential_mitigations")
        return [tuple(r[c] for c in cols)] if r else []

    @staticmethod
    def _score_ok(r: dict, score: float) -> bool:
        # SQL 3VL: NULL >= s is unknown, and unknown OR unknown drops the row
        return any(v is not None and v >= score for v in (r["base_score_3"], r["base_score"]))

    def by_score_date(self, score: float, date: dt.date | None) -> list[tuple]:
        return sorted(
            (
                (r["cve"], r["base_score_3"], r["vector_string_3"], r["base_score"],
                 r["vector_string"], r["published_date"])
                for r in self.cvss
                if self._score_ok(r, score) and (date is None or r["published_date"] >= date)
            ),
            key=repr,
        )

    def by_cpe(self, pattern: str, score: float, date: dt.date | None) -> list[tuple]:
        by_cve = {r["cve"]: r for r in self.cvss}
        out = []
        for cve, uri, vul in self.cpe:
            r = by_cve.get(cve)
            if vul != "True" or r is None or pattern not in uri or not self._score_ok(r, score):
                continue
            if date is not None and r["published_date"] < date:
                continue
            out.append((uri, cve, r["base_score_3"], r["base_score"], r["published_date"]))
        return sorted(out, key=repr)
