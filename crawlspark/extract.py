"""Page extraction (SURVEY §2.4): HTML/JSON-LD -> typed struct, one
logical parse per page, in one Arrow-batched ``mapInArrow`` stage.

Re-expresses the reference enrichment path
(internal/module/vieclam24h/scraper.go:156-291) and the generic
CSS-selector list scan (internal/common/extractor/colly_extractor.go:165-203)
over the closed-world fixture HTML. Field semantics are kept exactly:

- canonical link  (scraper.go:167-172)
- "Kinh nghiệm" div value, last match wins (scraper.go:180-193)
- JSON-LD JobPosting fields, keys set only when non-empty
  (scraper.go:196-290); industry comma-split + trim + drop-empty
  (scraper.go:229-239); jobLocation ordered dedup of region/locality
  (scraper.go:253-275); baseSalary min/max/currency and the
  value.Value -> isNegotiable branch (scraper.go:277-287)
- every valid-JSON ld+json blob preserved for the audit side channel
  (scraper.go:127-154)

The pure-python functions are the test oracle, and ``extract_pages``
(the stage the wave runs) calls them per Arrow batch. No JVM-side HTML
parser exists, so this is a deliberate (Arrow-batched) Python stage;
everything downstream is built-in Column expressions.
"""

from __future__ import annotations

import json
import re

# Fixture/list-page shapes are controlled by synth.py, so anchored
# regex extraction is exact; patterns tolerate attribute reordering
# where the reference's CSS selectors would.
_RE_CANONICAL = re.compile(r'<link\s+rel="canonical"\s+href="([^"]*)"')
_RE_FLEXCOL = re.compile(
    r'<div class="flex flex-col[^"]*">\s*<div>([^<]*)</div>\s*<div>([^<]*)</div>', re.S)
_RE_JSONLD = re.compile(
    r'<script type="application/ld\+json">(.*?)</script>', re.S)
_RE_JOBLINK = re.compile(
    r'<a class="job-link" href="([^"]+)"'
    r'(?:\s+data-id="([^"]*)")?(?:\s+data-updated="([^"]*)")?[^>]*>')

_EMPTY = {
    "canonical_url": None, "experience_text": None, "title": None,
    "company": None, "job_description": None, "job_benefits": None,
    "skills": None, "qualifications": None, "industry": None,
    "occupational_category": None, "employment_type": None,
    "company_website": None, "location_city": None,
    "location_district": None, "salary_min_jsonld": None,
    "salary_max_jsonld": None, "salary_currency": None,
    "salary_text_jsonld": None, "is_negotiable": None,
    "job_requirement": None, "other_requirement": None,
    "rate_response_text": None, "jsonld_count": 0,
}


def _nonempty(s) -> str | None:
    return s if isinstance(s, str) and s != "" else None


def _extract_detail(html: str | None) -> tuple[dict, list[str]]:
    """One pass over a detail page: the extraction struct
    (enrichJobData parity) and the JSON-LD audit blobs
    (scraper.go:127-154), from one regex scan and one ``json.loads``
    per blob."""
    out, blobs = dict(_EMPTY), []
    if not html:
        return out, blobs

    m = _RE_CANONICAL.search(html)
    if m:
        out["canonical_url"] = m.group(1)

    # experience div: first-child label == "Kinh nghiệm", trimmed;
    # .Each semantics -> last matching block wins (scraper.go:180-193)
    for m in _RE_FLEXCOL.finditer(html):
        if m.group(1).strip() == "Kinh nghiệm":
            out["experience_text"] = m.group(2).strip()

    for m in _RE_JSONLD.finditer(html):
        blob = m.group(1).strip()
        if not blob:
            continue
        try:
            jp = json.loads(blob)
        except ValueError:
            continue
        if not isinstance(jp, dict):
            continue
        blobs.append(blob)  # every trimmed, valid-JSON-object blob, raw
        if jp.get("@type") != "JobPosting":
            continue  # scraper.go:208-209
        # keys only set when non-empty (scraper.go:217-245)
        out["title"] = _nonempty(jp.get("title")) or out["title"]
        org = jp.get("hiringOrganization") or {}
        out["company"] = _nonempty(org.get("name")) or out["company"]
        out["company_website"] = _nonempty(org.get("sameAs")) or out["company_website"]
        if _nonempty(jp.get("description")):
            out["job_description"] = jp["description"]
        if _nonempty(jp.get("jobBenefits")):
            out["job_benefits"] = jp["jobBenefits"]
        if _nonempty(jp.get("skills")):
            out["skills"] = jp["skills"]
        if _nonempty(jp.get("qualifications")):
            out["qualifications"] = jp["qualifications"]
        if _nonempty(jp.get("industry")):
            parts = [p.strip() for p in jp["industry"].split(",")]
            inds = [p for p in parts if p]
            if inds:
                out["industry"] = inds
        if _nonempty(jp.get("occupationalCategory")):
            out["occupational_category"] = jp["occupationalCategory"]
        if _nonempty(jp.get("employmentType")):
            out["employment_type"] = jp["employmentType"]
        # jobLocation ordered dedup (scraper.go:253-275)
        locs = jp.get("jobLocation") or []
        cities, districts, cset, dset = [], [], set(), set()
        for loc in locs:
            addr = (loc or {}).get("address") or {}
            region = addr.get("addressRegion") or ""
            locality = addr.get("addressLocality") or ""
            if region and region not in cset:
                cset.add(region)
                cities.append(region)
            if locality and locality not in dset:
                dset.add(locality)
                districts.append(locality)
        if cities:
            out["location_city"] = cities
        if districts:
            out["location_district"] = districts
        # baseSalary (scraper.go:277-287)
        val = ((jp.get("baseSalary") or {}).get("value")) or {}
        minv = val.get("minValue") or 0
        maxv = val.get("maxValue") or 0
        if minv > 0 or maxv > 0:
            out["salary_min_jsonld"] = int(minv)
            out["salary_max_jsonld"] = int(maxv)
            out["salary_currency"] = (jp.get("baseSalary") or {}).get("currency")
        if _nonempty(val.get("value")):
            out["salary_text_jsonld"] = val["value"]
            out["is_negotiable"] = True
        # N11/N3 raw keys (API-only in the reference; closed-world
        # extension keys here). rate may arrive as number or string —
        # carried as string; getFloat parses leniently downstream.
        if _nonempty(jp.get("jobRequirement")):
            out["job_requirement"] = jp["jobRequirement"]
        if _nonempty(jp.get("otherRequirement")):
            out["other_requirement"] = jp["otherRequirement"]
        rr = jp.get("rateResponse")
        if rr is not None and rr != "":
            out["rate_response_text"] = repr(rr) if isinstance(rr, float) else str(rr)
    out["jsonld_count"] = len(blobs)
    return out, blobs


def extract_detail_fields(html: str | None) -> dict:
    """Oracle for the per-page extraction struct (enrichJobData parity)."""
    return _extract_detail(html)[0]


def extract_links(html: str | None) -> list[dict]:
    """Oracle for list-page item links (colly_extractor.go:165-203),
    FIFO rank = document order (1-indexed)."""
    if not html:
        return []
    out = []
    for i, m in enumerate(_RE_JOBLINK.finditer(html), start=1):
        out.append({"href": m.group(1), "rank": i,
                    "item_id": m.group(2), "item_updated": m.group(3)})
    return out


def extract_jsonld_blobs(html: str | None) -> list[str]:
    """Oracle for the JSON-LD audit side channel (scraper.go:127-154):
    every trimmed, valid-JSON-object blob, raw."""
    return _extract_detail(html)[1]


def _to_str(h) -> str | None:
    """html stays BINARY end-to-end on the JVM side (a binary->string
    cast doubles the bytes held per row); decode happens here, per
    Arrow batch, Python-side only."""
    if isinstance(h, (bytes, bytearray)):
        return h.decode("utf-8", "replace")
    return h


def _nullable_struct(st):
    """Fully-nullable copy of a StructType (the mapInArrow output
    carries null structs for list pages, so non-null child fields
    can't be promised at the stage boundary)."""
    from pyspark.sql import types as T

    return T.StructType([T.StructField(f.name, f.dataType, True)
                         for f in st.fields])


def extract_pages(df):
    """Combined per-page extraction as ONE pandas-free ``mapInArrow``
    stage over the oracle functions above.

    Measured 2.3x faster absolute than the pandas-UDF channel on this
    exact stage (BENCH.md probe table: 7.8 s vs 17.8 s at 2 cores),
    because the fat binary html column and the wide struct result never
    round-trip through pandas block managers. A pure-Column twin was
    ~2.6x slower at every core count (BENCH.md, round 4).

    Semantics: list pages (depth 0) run the
    link scan, detail pages one JSON-LD scan that yields both the
    enrichment struct and the audit blobs (scraper.go:127-291,
    colly_extractor.go:165-203). html is
    decoded per Arrow batch and DROPPED inside the stage; every other
    input column is re-emitted zero-copy, so the only Python-side
    materializations are the html bytes and the extracted values.

    df needs ``html`` and ``depth`` columns. Returns df's columns minus
    html, plus (_links, x, jsonld).
    """
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    from .schemas import EXTRACTED_STRUCT, LINK_STRUCT

    passthrough = [f for f in df.schema.fields if f.name != "html"]
    names = [f.name for f in passthrough]
    links_t = to_arrow_type(T.ArrayType(LINK_STRUCT))
    x_t = to_arrow_type(_nullable_struct(EXTRACTED_STRUCT))
    blobs_t = pa.list_(pa.string())

    def run(batches):
        for b in batches:
            html = b.column(b.schema.get_field_index("html"))
            depth = b.column(b.schema.get_field_index("depth"))
            links, xs, blobs = [], [], []
            for h, d in zip(html.to_pylist(), depth.to_pylist()):
                s = _to_str(h)
                if d == 0:
                    links.append(extract_links(s))
                    xs.append(None)
                    blobs.append(None)
                else:
                    x, jsonld = _extract_detail(s)
                    links.append(None)
                    xs.append(x)
                    blobs.append(jsonld)
            arrays = [b.column(b.schema.get_field_index(n)) for n in names]
            arrays += [pa.array(links, links_t), pa.array(xs, x_t),
                       pa.array(blobs, blobs_t)]
            yield pa.RecordBatch.from_arrays(
                arrays, names + ["_links", "x", "jsonld"])

    out_schema = T.StructType(list(passthrough) + [
        T.StructField("_links", T.ArrayType(LINK_STRUCT), True),
        T.StructField("x", _nullable_struct(EXTRACTED_STRUCT), True),
        T.StructField("jsonld", T.ArrayType(T.StringType()), True),
    ])
    return df.mapInArrow(run, schema=out_schema)
