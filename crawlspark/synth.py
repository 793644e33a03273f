"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md).

Generates the closed crawl world the engine runs against:

- ``pages``    — list pages (with <a class="job-link"> items carrying
  data-id/data-updated, the API-list analogue) + detail pages (with
  canonical link, "Kinh nghiệm" div, JSON-LD JobPosting, noise markup)
  in the input_hint schema (url, warc_ts, html, text, lang). The
  ``text`` column is the frozen golden extracted text produced by the
  oracle ``clean.clean_to_text`` over the JSON-LD description — the
  byte-identity contract.
- ``seed_list`` — the list-page URLs at depth 0.
- ``robots``    — per-host crawl_delay_ms / disallow prefixes / wave
  token budgets.
- ``host_rank`` — per-host priority weight.

Every field derives from a per-id splitmix64 hash (not draw order), so
generation is chunkable and identical at any parallelism — this is what
lets the bench generate 10^6 rows distributed via mapInPandas and what
makes wave-2 rows byte-identical to wave-1 for unchanged ids.

Wave semantics (FIXTURES.md §4): wave>=2 re-emits the same id space
with 20% of ids "updated" (updated_at bumped + description suffix),
70% unchanged, plus 10% new ids — pinning the reference's three-way
dedup state machine (deduplicator.go:49-67).

HTML shapes mirror what the reference extractor consumes:
vieclam24h/scraper.go:167-290 (canonical/experience/JSON-LD),
colly_extractor.go:165-203 (list items), crawler.go:220-221 (URL
grammar).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from .clean import clean_to_text

N_HOSTS = 64
ZIPF_S = 1.35
PER_PAGE = 30
BASE_UPDATED = 1735689600  # 2025-01-01 unix
BASE_WARC = np.datetime64("2026-01-01T00:00:00")
DAY = 86400

_WORDS_A = ["nhan-vien", "ky-su", "chuyen-vien", "truong-phong", "giam-doc",
            "thuc-tap-sinh", "quan-ly", "tro-ly", "lap-trinh-vien", "ke-toan"]
_WORDS_B = ["kinh-doanh", "marketing", "phan-mem", "nhan-su", "tai-chinh",
            "van-hanh", "thiet-ke", "ban-hang", "cham-soc-khach-hang", "du-lieu"]
_TITLE_A = ["Nhân viên", "Kỹ sư", "Chuyên viên", "Trưởng phòng", "Giám đốc",
            "Thực tập sinh", "Quản lý", "Trợ lý", "Lập trình viên", "Kế toán"]
_TITLE_B = ["Kinh doanh", "Marketing", "Phần mềm", "Nhân sự", "Tài chính",
            "Vận hành", "Thiết kế", "Bán hàng", "CSKH", "Dữ liệu"]
_COMPANIES = ["Công ty TNHH Sao Việt", "Tập đoàn FPT & Co", "Công ty CP Hòa Bình",
              "VinGroup JSC", "Techcom Solutions", "Công ty \"Đại Phát\"",
              "Viettel Software", "Công ty TNHH MTV An Khang"]
_EXPERIENCES = ["Không yêu cầu", "Chưa có kinh nghiệm", "Dưới 1 năm", "1 năm",
                "2 năm", "3 năm", "5 năm", "Hơn 5 năm"]
_INDUSTRIES = ["Kinh doanh", "Bán hàng", "Công nghệ thông tin", "Marketing",
               "Tài chính", "Xây dựng", "Giáo dục", "Y tế"]
_CITIES = ["Hà Nội", "Hồ Chí Minh", "Đà Nẵng", "Cần Thơ", "Hải Phòng"]
_DISTRICTS = ["Quận 1", "Cầu Giấy", "Hải Châu", "Ninh Kiều", "Lê Chân",
              "Đống Đa", "Quận 7", "Thanh Khê"]
_SKILL_POOL = ["Giao tiếp", "Excel", "Python", "Đàm phán", "Tiếng Anh",
               "SQL", "Quản lý thời gian", "Teamwork"]
_EMP_TYPES = ["FULL_TIME", "PART_TIME", "CONTRACTOR"]
_OCCUPATIONS = ["Sales", "Engineering", "Operations", "Finance", "Design"]
_QUALS = ["Đại học", "Cao đẳng", "Trung cấp", ""]  # "" -> key omitted -> default later


def host_name(i: int) -> str:
    return f"viec{i:02d}.example.vn"


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = x
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    return z ^ (z >> np.uint64(31))


def _h(ids: np.ndarray, salt: int, seed: int) -> np.ndarray:
    """Per-id 64-bit hash; field values derive from (id, salt, seed) only."""
    mix = (seed * 0x5851F42D4C957F2D + salt * 0x14057B7EF767814F) & 0xFFFFFFFFFFFFFFFF
    return _splitmix64(ids.astype(np.uint64) ^ np.uint64(mix))


def _zipf_probs() -> np.ndarray:
    w = 1.0 / np.arange(1, N_HOSTS + 1) ** ZIPF_S
    return w / w.sum()


def assign_hosts(ids: np.ndarray, seed: int) -> np.ndarray:
    """Zipf-skewed deterministic host index per id (top host ~30%)."""
    u = _h(ids, 1, seed).astype(np.float64) / float(2**64)
    return np.searchsorted(np.cumsum(_zipf_probs()), u).astype(np.int32)


def fifo_positions(ids: np.ndarray, host_idx: np.ndarray):
    """(page, rank) of each detail id within its host, FIFO by id order.

    This is the reference's list-API ordering: page N of host H lists
    its items in id order, 30 per page (types.go:20, crawler.go:73-93).
    """
    order = np.argsort(host_idx, kind="stable")  # ids are already ascending
    pos = np.empty(len(ids), dtype=np.int64)
    sorted_hosts = host_idx[order]
    # cumcount within host on the host-sorted view
    change = np.r_[True, sorted_hosts[1:] != sorted_hosts[:-1]]
    grp_start = np.maximum.accumulate(np.where(change, np.arange(len(ids)), 0))
    pos[order] = np.arange(len(ids)) - grp_start
    page = (pos // PER_PAGE + 1).astype(np.int32)
    rank = (pos % PER_PAGE + 1).astype(np.int32)
    return page, rank


def n_total_ids(n: int) -> int:
    return n + n // 10


def updated_mask(ids: np.ndarray) -> np.ndarray:
    """Ids updated in wave 2: 20% deterministic (id % 10 in {3, 7})."""
    m = ids % 10
    return (m == 3) | (m == 7)


def _pick(arr_hash: np.ndarray, options: list) -> list:
    # NB: modulo must stay vectorized — scalar np.uint64 % python int
    # promotes to float64 and corrupts the index.
    idx = (arr_hash % np.uint64(len(options))).astype(np.int64)
    return [options[i] for i in idx]


def _detail_row_fields(ids: np.ndarray, seed: int, wave: int) -> dict:
    """All per-detail-page logical fields, vectorized where possible."""
    upd = updated_mask(ids) & (wave >= 2)
    h_title_a = _h(ids, 2, seed)
    h_title_b = _h(ids, 3, seed)
    h_comp = _h(ids, 4, seed)
    h_exp = _h(ids, 5, seed)
    h_sal = _h(ids, 6, seed)
    h_qual = _h(ids, 8, seed)
    h_occ = _h(ids, 9, seed)
    h_emp = _h(ids, 10, seed)
    h_city = _h(ids, 11, seed)
    h_nloc = _h(ids, 12, seed)
    h_lang = _h(ids, 13, seed)
    h_noise = _h(ids, 14, seed)

    titles = [f"{a} {b} {i}" for a, b, i in
              zip(_pick(h_title_a, _TITLE_A), _pick(h_title_b, _TITLE_B), ids)]
    slugs = [f"{a}-{b}" for a, b in
             zip(_pick(h_title_a, _WORDS_A), _pick(h_title_b, _WORDS_B))]
    companies = _pick(h_comp, _COMPANIES)
    experiences = _pick(h_exp, _EXPERIENCES)
    quals = _pick(h_qual, _QUALS)
    occupations = _pick(h_occ, _OCCUPATIONS)
    emp_types = _pick(h_emp, _EMP_TYPES)
    langs = np.where(h_lang % 10 == 0, "en", "vi")

    updated_at = BASE_UPDATED + (ids % 100000) * 60 + np.where(upd, DAY, 0)
    created_at = updated_at - 30 * DAY
    valid_through = updated_at + 30 * DAY

    # salary variants (id%4): 0=VND ints, 1=small ints (<=1000 branch),
    # 2=negotiable value string, 3=absent
    sal_variant = (ids % 4).astype(np.int32)
    sal_min_m = 5 + (h_sal % 20)
    sal_max_m = sal_min_m + 2 + ((h_sal >> np.uint64(8)) % 15)

    skills_sep = (ids % 4).astype(np.int32)
    n_skills = 2 + (h_sal >> np.uint64(16)) % 3

    rows = {
        "title": titles, "slug": slugs, "company": companies,
        "experience": experiences, "qualifications": quals,
        "occupation": occupations, "employment_type": emp_types,
        "lang": langs, "updated_at": updated_at, "created_at": created_at,
        "valid_through": valid_through, "sal_variant": sal_variant,
        "sal_min_m": sal_min_m.astype(np.int64), "sal_max_m": sal_max_m.astype(np.int64),
        "skills_sep": skills_sep, "n_skills": n_skills.astype(np.int64),
        "h_city": h_city, "h_nloc": h_nloc, "h_noise": h_noise, "upd": upd,
    }
    return rows


def _skills_string(i: int, sep_kind: int, n: int, h: int) -> str:
    chosen = [_SKILL_POOL[(h + 3 * k) % len(_SKILL_POOL)] for k in range(n)]
    # dedup preserving order
    seen, out = set(), []
    for s in chosen:
        if s not in seen:
            seen.add(s)
            out.append(s)
    if sep_kind == 0:
        return " - ".join(out)
    if sep_kind == 1:
        return ", ".join(out)
    if sep_kind == 2:
        return ";".join(out)
    return out[0]


def _industry_string(h: int) -> str:
    k = 1 + h % 3
    parts = [_INDUSTRIES[(h + 2 * j) % len(_INDUSTRIES)] for j in range(k)]
    # keep stray spaces to exercise the trim in scraper.go:230-238
    return " , ".join(parts)


def _locations(h_city: int, h_nloc: int) -> list[dict]:
    k = 1 + h_nloc % 3
    locs = []
    for j in range(k):
        city = _CITIES[(h_city + j * (h_nloc % 2)) % len(_CITIES)]  # dup regions when h_nloc even
        district = _DISTRICTS[(h_city + 3 * j) % len(_DISTRICTS)]
        locs.append({
            "@type": "Place",
            "address": {"@type": "PostalAddress",
                        "addressRegion": city, "addressLocality": district},
        })
    return locs


_LOREM = ["Phúc lợi hấp dẫn", "Môi trường năng động", "Lương thưởng cạnh tranh",
          "Đào tạo bài bản", "Cơ hội thăng tiến", "Chế độ bảo hiểm đầy đủ",
          "Làm việc với đối tác quốc tế", "Đồng nghiệp thân thiện"]


def _description_html(title: str, i: int, h_noise: int, upd: bool, wave: int) -> str:
    noisy_script = "<script>bad()</script>" if h_noise % 10 == 0 else ""
    duties = "".join(
        f"<li>Nhiệm vụ {k + 1}: {_LOREM[(h_noise + k) % len(_LOREM)]} cho bộ phận {(i + k) % 9 + 1}</li>"
        for k in range(4 + h_noise % 4))
    desc = (
        f"<p>Mô tả công việc cho {title} &amp; đội ngũ.</p>\n\n\n"
        f"<ul>{duties}"
        f"<li>Làm việc với &quot;khách hàng&quot; &#x1EA1; trọng điểm</li></ul>\n"
        f"{noisy_script}<p>Chi tiết: {_LOREM[h_noise % len(_LOREM)]}.</p>"
    )
    if upd:
        desc += f"\n<p>Cập nhật đợt {wave}</p>"
    return desc


def _body_filler(i: int, h_noise: int) -> str:
    """Deterministic page bloat: real Common-Crawl job pages run
    50-100 KB of nav/boilerplate; extraction must scan past it."""
    para = (f"<div class=\"related\"><span>Việc làm liên quan {h_noise % 97}</span> "
            + " ".join(f"<a href=\"/tag-{(h_noise + j) % 53}\">từ khóa {j}</a>"
                       for j in range(8)) + "</div>")
    reps = max(1, (6 * 1024) // len(para.encode("utf-8")))
    return para * reps


def _jobposting_json(f: dict, i: int, idx: int, url: str, desc: str) -> str:
    jp: dict = {
        "@context": "https://schema.org",
        "@type": "JobPosting",
        "title": f["title"][idx],
        "description": desc,
        "datePosted": "2026-01-01",
        "hiringOrganization": {
            "@type": "Organization",
            "name": f["company"][idx],
            "sameAs": f"https://company{int(f['h_city'][idx]) % 500:03d}.example.vn",
        },
        "industry": _industry_string(int(f["h_noise"][idx])),
        "occupationalCategory": f["occupation"][idx],
        "employmentType": f["employment_type"][idx],
        "jobBenefits": "Bảo hiểm, du lịch &amp; thưởng Tết",
        "skills": _skills_string(i, int(f["skills_sep"][idx]), int(f["n_skills"][idx]),
                                 int(f["h_city"][idx])),
        "jobLocation": _locations(int(f["h_city"][idx]), int(f["h_nloc"][idx])),
    }
    if f["qualifications"][idx]:
        jp["qualifications"] = f["qualifications"][idx]
    # N11 inputs: variant covers both-present / req-only / other-only /
    # neither (normalizer.go:157-164 branch exhaustion); N3 getFloat
    # input alternates float / numeric string / absent
    rq = int(f["h_noise"][idx]) % 4
    if rq in (0, 1):
        jp["jobRequirement"] = f"Yêu cầu {i}: {f['experience'][idx]}"
    if rq in (0, 2):
        jp["otherRequirement"] = f"Ưu tiên ứng viên {f['qualifications'][idx] or 'mới'}"
    rr = int(f["h_noise"][idx]) % 3
    if rr == 0:
        jp["rateResponse"] = round((int(f["h_city"][idx]) % 100) / 100.0, 2)
    elif rr == 1:
        jp["rateResponse"] = f"0.{int(f['h_city'][idx]) % 100:02d}"
    v = int(f["sal_variant"][idx])
    if v == 0:
        jp["baseSalary"] = {"@type": "MonetaryAmount", "currency": "VND",
                            "value": {"@type": "QuantitativeValue",
                                      "minValue": int(f["sal_min_m"][idx]) * 1_000_000,
                                      "maxValue": int(f["sal_max_m"][idx]) * 1_000_000}}
    elif v == 1:
        jp["baseSalary"] = {"@type": "MonetaryAmount", "currency": "VND",
                            "value": {"@type": "QuantitativeValue",
                                      "minValue": int(f["sal_min_m"][idx]),
                                      "maxValue": int(f["sal_max_m"][idx])}}
    elif v == 2:
        jp["baseSalary"] = {"@type": "MonetaryAmount", "currency": "VND",
                            "value": {"@type": "QuantitativeValue", "value": "Thỏa thuận"}}
    # v == 3: absent
    return _json_marshal(jp)


def _json_marshal(obj) -> str:
    """json.dumps with Go encoding/json HTML-escaping (<, >, & become
    \\u003c/\\u003e/\\u0026), so embedded '</script>' in descriptions
    cannot break out of the ld+json script element — matching how real
    JSON-LD is emitted server-side."""
    return (json.dumps(obj, ensure_ascii=False)
            .replace("<", "\\u003c").replace(">", "\\u003e").replace("&", "\\u0026"))


_ORG_BLOB = ('{"@context": "https://schema.org", "@type": "Organization", '
             '"name": "Noise Org", "url": "https://noise.example.vn"}')


def detail_url(host: str, slug: str, i: int) -> str:
    # reference URL grammar: vieclam24h/crawler.go:220-221
    c = i % 50 + 1
    p = i % 63 + 1
    return f"https://{host}/{slug}-c{c}p{p}id{i}.html"


def list_url(host: str, page: int) -> str:
    # careerviet pagination grammar analogue (careerviet_extractor.go:296-304)
    if page <= 1:
        return f"https://{host}/viec-lam-vi.html"
    return f"https://{host}/viec-lam-trang-{page}-vi.html"


def gen_detail_chunk(ids: np.ndarray, seed: int = 42, wave: int = 1) -> pd.DataFrame:
    """Detail pages for the given ids (chunk-parallel safe)."""
    host_idx = assign_hosts(ids, seed)
    f = _detail_row_fields(ids, seed, wave)
    urls, htmls, texts = [], [], []
    # 5% of pages live under a robots-disallowed prefix
    disallowed = _h(ids, 20, seed) % 20 == 0
    for idx, i in enumerate(ids.tolist()):
        host = host_name(int(host_idx[idx]))
        slug = ("private-" if disallowed[idx] else "") + f["slug"][idx]
        url = detail_url(host, slug, i)
        desc = _description_html(f["title"][idx], i, int(f["h_noise"][idx]),
                                 bool(f["upd"][idx]), wave)
        jp = _jobposting_json(f, i, idx, url, desc)
        org = f"\n<script type=\"application/ld+json\">{_ORG_BLOB}</script>" \
            if int(f["h_noise"][idx]) % 5 == 0 else ""
        html = (
            "<!DOCTYPE html><html><head>"
            f"<link rel=\"canonical\" href=\"{url}\">"
            "<style>.x{color:red}</style>"
            "<script>var t=\"noise & stuff\";</script>"
            "</head><body>"
            "<nav><a href=\"/\">Trang chủ</a> &gt; <a href=\"/viec-lam\">Việc làm</a></nav>"
            "<!-- trang chi tiết -->"
            f"<h1 onclick=\"evil()\">{f['title'][idx]}</h1>"
            f"<div class=\"flex flex-col w-full\"><div>Kinh nghiệm</div><div>{f['experience'][idx]}</div></div>"
            "<div class=\"flex flex-col w-full\"><div>Nơi làm việc</div><div>Văn phòng</div></div>"
            f"{_body_filler(i, int(f['h_noise'][idx]))}"
            f"<script type=\"application/ld+json\">{jp}</script>"
            f"{org}"
            "<footer>© Công ty &amp; cộng sự</footer>"
            "</body></html>"
        )
        urls.append(url)
        htmls.append(html.encode("utf-8"))
        texts.append(clean_to_text(desc))  # frozen golden text (oracle)
    warc = BASE_WARC + ((ids % 100000) * 7 + (wave - 1)).astype("timedelta64[s]")
    return pd.DataFrame({
        "url": urls,
        "warc_ts": pd.Series(warc),
        "html": htmls,
        "text": texts,
        "lang": f["lang"],
    })


def gen_list_chunk(n: int, seed: int = 42, wave: int = 1) -> pd.DataFrame:
    """List pages for the corpus of n base detail ids (+10% new on wave>=2).

    Each list page embeds its items as <div class="job-item"><a
    class="job-link" href data-id data-updated> in FIFO order — the
    closed-world analogue of the paginated list API
    (colly_extractor.go:165-203 consumes exactly this shape).
    """
    hi = n if wave == 1 else n_total_ids(n)
    ids = np.arange(1, hi + 1, dtype=np.int64)
    host_idx = assign_hosts(ids, seed)
    page, rank = fifo_positions(ids, host_idx)
    f = _detail_row_fields(ids, seed, wave)
    disallowed = _h(ids, 20, seed) % 20 == 0

    items: dict[tuple[int, int], list[tuple[int, str]]] = {}
    for idx, i in enumerate(ids.tolist()):
        h = int(host_idx[idx])
        slug = ("private-" if disallowed[idx] else "") + f["slug"][idx]
        durl = detail_url(host_name(h), slug, i)
        a = (f'<div class="job-item"><a class="job-link" href="{durl}" '
             f'data-id="{i}" data-updated="{int(f["updated_at"][idx])}">'
             f'{f["title"][idx]}</a></div>')
        items.setdefault((h, int(page[idx])), []).append((int(rank[idx]), a))

    urls, htmls, texts, langs, warcs = [], [], [], [], []
    for (h, p), rows in sorted(items.items()):
        rows.sort()
        body = "\n".join(a for _, a in rows)
        html = (
            "<!DOCTYPE html><html><head>"
            f"<link rel=\"canonical\" href=\"{list_url(host_name(h), p)}\">"
            "</head><body><nav>Danh sách việc làm</nav>"
            f"{body}"
            "<footer>Trang danh sách</footer></body></html>"
        )
        urls.append(list_url(host_name(h), p))
        htmls.append(html.encode("utf-8"))
        texts.append("")
        langs.append("vi")
        warcs.append(pd.Timestamp(BASE_WARC) + pd.Timedelta(seconds=h * 100 + p))
    return pd.DataFrame({"url": urls, "warc_ts": warcs, "html": htmls,
                         "text": texts, "lang": langs})


def gen_pages_pandas(n: int, seed: int = 42, wave: int = 1) -> pd.DataFrame:
    """Full pages table (list + detail) as pandas; for tests (n <= ~50k)."""
    hi = n if wave == 1 else n_total_ids(n)
    ids = np.arange(1, hi + 1, dtype=np.int64)
    details = gen_detail_chunk(ids, seed, wave)
    lists = gen_list_chunk(n, seed, wave)
    return pd.concat([lists, details], ignore_index=True)


def gen_pages_spark(spark, n: int, parallelism: int = 32):
    """Distributed wave-1 pages generation via mapInPandas (bench
    scale); the same rows as gen_pages_pandas(n)."""
    from .schemas import PAGES_SCHEMA

    def gen(iterator):
        for pdf in iterator:
            for _, row in pdf.iterrows():
                lo, high = int(row["lo"]), int(row["hi"])
                ids = np.arange(lo, high, dtype=np.int64)
                if len(ids):
                    yield gen_detail_chunk(ids)

    chunk = max(1, (n + parallelism - 1) // parallelism)
    bounds = [(i * chunk + 1, min((i + 1) * chunk, n) + 1) for i in range(parallelism)]
    bdf = spark.createDataFrame([(lo, h) for lo, h in bounds], "lo long, hi long")
    details = bdf.repartition(parallelism, "lo").mapInPandas(gen, schema=PAGES_SCHEMA)
    lists = spark.createDataFrame(gen_list_chunk(n), schema=PAGES_SCHEMA)
    return lists.unionByName(details)


def gen_seed_list(n: int, seed: int = 42, wave: int = 1) -> pd.DataFrame:
    """All list-page URLs at depth 0 (FIXTURES.md §2)."""
    hi = n if wave == 1 else n_total_ids(n)
    ids = np.arange(1, hi + 1, dtype=np.int64)
    host_idx = assign_hosts(ids, seed)
    page, _ = fifo_positions(ids, host_idx)
    pairs = sorted({(int(h), int(p)) for h, p in zip(host_idx, page)})
    return pd.DataFrame({
        "url": [list_url(host_name(h), p) for h, p in pairs],
        "host": [host_name(h) for h, p in pairs],
        "page": [p for _, p in pairs],
        "depth": 0,
    })


def gen_robots(seed: int = 42, wave_ms: int = 3_600_000) -> pd.DataFrame:
    """Per-host politeness budgets (FIXTURES.md §5)."""
    idx = np.arange(N_HOSTS, dtype=np.int64)
    delays = np.array([1000, 3000, 5000])[_h(idx, 30, seed) % 3]
    return pd.DataFrame({
        "host": [host_name(int(i)) for i in idx],
        "crawl_delay_ms": delays.astype(np.int32),
        "disallow_prefixes": [["/private-"] for _ in idx],
        "tokens_per_wave": (wave_ms // delays).astype(np.int32),
    })


def gen_host_rank(seed: int = 42) -> pd.DataFrame:
    idx = np.arange(N_HOSTS, dtype=np.int64)
    rank = _h(idx, 31, seed).astype(np.float64) / float(2**64)
    return pd.DataFrame({"host": [host_name(int(i)) for i in idx],
                         "rank": np.round(rank, 6)})
