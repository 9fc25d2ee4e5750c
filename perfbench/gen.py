"""Seeded input generator for the hiring-audit benchmark.

Everything the program reads is made here from one integer seed: the
payroll rows, the weekly postings, and the Lightcast occupation sheet.
The same seed gives byte-identical inputs.

Title domain: ``modifier? domain role level?``. Roles and domains are
drawn with Zipf weights, so a few tokens are hot (the reference's
612,076-record comparison group for one title, scaled down), and real
job words share character 4-grams (``administrator``/``administrative``,
``engineer``/``engineering``). The seed permutes which words are hot
but keeps the shape of the distribution, so the amount of blocking
work barely moves from seed to seed.

Postings perturb payroll titles the way FIXTURES.md asks: case,
punctuation, token reorder, a one-letter typo, a dropped or added
token, and unrelated titles that should not match. Dates and salaries
carry the FIXTURES.md edge cases: unparseable and no-fraction posting
dates, null ``post_until`` (imputed +30 days), null and inverted salary
ranges, equal bounds, null and out-of-band base salaries.
"""

from __future__ import annotations

import datetime as dt
import random
import zipfile
from dataclasses import dataclass
from xml.sax.saxutils import escape

ROLES = [
    "analyst", "engineer", "manager", "inspector", "officer", "specialist",
    "coordinator", "assistant", "administrator", "auditor", "planner",
    "counselor", "investigator", "technician", "supervisor", "director",
    "scientist", "architect", "attorney", "accountant", "nurse", "worker",
    "aide", "clerk", "consultant", "designer", "developer", "examiner",
    "instructor", "librarian", "mechanic", "operator", "paralegal",
    "pharmacist", "physician", "programmer", "surveyor", "therapist",
    "trainer", "writer",
]
DOMAINS = [
    "budget", "civil", "data", "health", "housing", "environmental",
    "electrical", "mechanical", "community", "public", "computer", "systems",
    "tax", "legal", "social", "urban", "traffic", "water", "fire", "police",
    "correction", "sanitation", "parks", "transit", "youth", "elderly",
    "family", "child", "emergency", "building", "energy", "procurement",
    "records", "payroll", "claims", "licensing", "permits", "zoning",
    "research", "policy", "engineering", "administrative", "analysis",
    "maintenance", "operations",
]
MODIFIERS = [
    "senior", "junior", "assistant", "associate", "principal", "deputy",
    "chief", "lead", "staff", "executive", "supervising", "administrative",
]
LEVELS = ["i", "ii", "iii", "iv"]
PAY_BASIS = ["per Annum", "per Hour", "per Day"]
MONTHS = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN",
          "JUL", "AUG", "SEP", "OCT", "NOV", "DEC"]

PAYROLL_SCHEMA = (
    "fiscal_year string, title_description string, base_salary double, "
    "pay_basis string, regular_gross_paid double, total_ot_paid double, "
    "total_other_pay double"
)
PAYROLL_COLUMNS = [
    "fiscal_year", "title_description", "base_salary", "pay_basis",
    "regular_gross_paid", "total_ot_paid", "total_other_pay",
]
POSTINGS_SCHEMA = (
    "post_id long, business_title string, salary_range_from double, "
    "salary_range_to double, posting_date string, post_until string"
)
POSTINGS_FIELDS = [
    "post_id", "business_title", "salary_range_from", "salary_range_to",
    "posting_date", "post_until",
]
LIGHTCAST_COLUMNS = [
    "Occupation (SOC)", "Total Postings (Jan 2024 - Jun 2025)",
    "Median Posting Duration",
]


@dataclass(frozen=True)
class Shape:
    """Input sizes of one workload."""

    payroll_titles: int
    payroll_rows: int
    posting_titles: int
    postings_per_batch: int
    batches: int
    lightcast_rows: int
    row_skew: float  # Zipf exponent of payroll rows per title
    # When set, the title domain (payroll and posting titles) comes from
    # this fixed seed and only the rows vary with the run's seed.
    domain_seed: int | None = None


@dataclass
class Inputs:
    payroll: list[tuple]
    postings: list[list[dict]]  # one list of row dicts per weekly batch
    lightcast: list[tuple]


def _quota(words: list[str], n: int, s: float) -> list[str]:
    """``n`` draws from ``words`` with Zipf(``s``) weights by rank, as
    exact counts (largest remainder), so every seed sees the same
    occupancy per rank."""
    w = [1.0 / (r + 1) ** s for r in range(len(words))]
    total = sum(w)
    exact = [n * x / total for x in w]
    counts = [int(e) for e in exact]
    by_rest = sorted(range(len(words)), key=lambda i: exact[i] - counts[i], reverse=True)
    for i in by_rest[: n - sum(counts)]:
        counts[i] += 1
    return [word for word, c in zip(words, counts) for _ in range(c)]


def _fill(rng: random.Random, words: list, n: int, share: float) -> list:
    """``share`` of ``n`` slots cycle through ``words``, the rest are
    None, in seeded order."""
    k = round(n * share)
    out = [words[i % len(words)] for i in range(k)] + [None] * (n - k)
    rng.shuffle(out)
    return out


def title_domain(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct payroll titles. Role and domain words have Zipf
    occupancy fixed by rank (a few hot tokens); the seed decides which
    domain, modifier and level each role is paired with."""
    roles = _quota(ROLES, n, 1.1)
    domains = _quota(DOMAINS, n, 0.9)
    rng.shuffle(domains)
    mods = _fill(rng, MODIFIERS, n, 0.5)
    levels = _fill(rng, LEVELS, n, 0.4)

    def title(i: int) -> str:
        return " ".join(w for w in (mods[i], domains[i], roles[i], levels[i]) if w)

    out: dict[str, None] = {}
    for i in range(n):
        for attempt in range(1000):
            if title(i) not in out:
                break
            # a repeated title: re-draw this slot's modifier and level,
            # and once a hot (domain, role) pair has run out of those,
            # its domain too
            mods[i] = rng.choice(MODIFIERS + [None])
            levels[i] = rng.choice(LEVELS + [None])
            if attempt >= 100:
                domains[i] = rng.choice(DOMAINS)
        else:
            raise ValueError(f"cannot draw {n} distinct titles from the vocabulary")
        out[title(i)] = None
    return list(out)


SURFACES = ["plain", "upper", "title", "comma"]
# in-range years first, so a title's first row always survives the
# fiscal-year filter
YEARS = ["2024", "2025", "2022", "2024", "2026", "2025", "2023"]


def _surface(rng: random.Random, title: str, kind: str | None = None) -> str:
    """Case and punctuation variants that normalize to the same title."""
    kind = kind or rng.choice(SURFACES)
    words = title.split()
    if kind == "upper":
        return title.upper()
    if kind == "title":
        return title.title()
    if kind == "comma" and len(words) > 1:
        return f"{words[0]},  {' '.join(words[1:])}"
    return title


# posting-title perturbations and their shares (FIXTURES.md §2)
PERTURBATIONS = [
    ("same", 0.30), ("reorder", 0.20), ("typo", 0.15), ("suffix", 0.10),
    ("drop", 0.10), ("prefix", 0.07), ("unrelated", 0.08),
]


def _perturb(rng: random.Random, title: str, kind: str) -> str:
    """A posting title derived from a payroll title."""
    words = title.split()
    out = title
    if kind == "reorder" and len(words) > 1:
        out = " ".join(reversed(words))
    elif kind == "typo":
        i = rng.randrange(len(title))
        out = title[:i] + title[i + 1:] if title[i] != " " else title
    elif kind == "suffix":
        out = f"{title} ({rng.choice(['provisional', 'levels i-ii'])})"
    elif kind == "drop" and len(words) > 2:
        drop = rng.randrange(len(words))
        out = " ".join(w for j, w in enumerate(words) if j != drop)
    elif kind == "prefix":
        out = f"{rng.choice(MODIFIERS)} {title}"
    elif kind == "unrelated":
        out = f"{words[-1]} trainee distinct role"
    return _surface(rng, out)


def posting_titles(rng: random.Random, titles: list[str], n: int) -> list[str]:
    """``n`` distinct posting titles: a systematic sample of the payroll
    titles in role-rank order (so the hot-token mix is the same for
    every seed), each perturbed with fixed shares of each kind."""
    rank = {w: i for i, w in enumerate(ROLES)}
    ordered = sorted(titles, key=lambda t: (rank.get(t.split()[-1], rank.get(
        t.split()[-2] if len(t.split()) > 1 else "", 0)), t))
    step = len(ordered) / n
    start = rng.random() * step
    bases = [ordered[int(start + k * step)] for k in range(n)]
    kinds = [k for k, share in PERTURBATIONS for _ in range(round(share * n))]
    kinds = (kinds + ["same"] * n)[:n]
    rng.shuffle(kinds)
    out: dict[str, None] = {}
    for base, kind in zip(bases, kinds):
        t = _perturb(rng, base, kind)
        while t in out:
            t = _perturb(rng, base, "prefix")
        out[t] = None
    return list(out)


def _payroll_rows(rng: random.Random, titles: list[str], shape: Shape) -> list[tuple]:
    """Rows per title follow a Zipf tail; every title has at least one.
    A title's j-th row takes surface variant ``j % 4`` and fiscal year
    ``YEARS[j % 7]``, so the number of distinct raw titles that reach
    the fuzzy join depends on the row counts alone, not on the seed."""
    weights = [1.0 / (r + 1) ** shape.row_skew for r in range(len(titles))]
    total_w = sum(weights)
    extra = shape.payroll_rows - len(titles)
    counts = [1 + int(extra * w / total_w) for w in weights]
    counts[0] += shape.payroll_rows - sum(counts)
    rows = []
    i = 0
    for title, k in zip(titles, counts):
        for j in range(k):
            shown: str | None = _surface(rng, title, SURFACES[j % len(SURFACES)])
            if i % 97 == 0:
                shown = ""
            if i % 131 == 0:
                shown = None
            rows.append((
                YEARS[j % len(YEARS)],
                shown,
                None if i % 53 == 0 else round(rng.uniform(30_000, 180_000), 2),
                rng.choice(PAY_BASIS),
                None if i % 71 == 0 else round(rng.uniform(-5_000, 150_000), 2),
                round(rng.uniform(0, 30_000), 2) if i % 3 else 0.0,
                round(rng.uniform(-2_000, 20_000), 2),
            ))
            i += 1
    rng.shuffle(rows)
    return rows


def _posting(rng: random.Random, post_id: int, title: str) -> dict:
    lo = round(rng.uniform(35_000, 120_000), 2)
    hi = round(lo * rng.uniform(1.0, 1.8), 2)
    if post_id % 43 == 0:
        hi = lo
    if post_id % 41 == 0:
        lo, hi = hi, lo
    if post_id % 37 == 0:
        lo = None
    day, month = rng.randrange(1, 29), rng.randrange(1, 13)
    posting_date = f"2024-{month:02d}-{day:02d}T00:00:00.000"
    if post_id % 19 == 0:
        posting_date = posting_date[:-4]
    if post_id % 29 == 0:
        posting_date = "not-a-date"
    if post_id % 23 == 0:
        post_until = None
    else:
        end = dt.date(2024, month, day) + dt.timedelta(days=rng.randrange(0, 200))
        post_until = f"{end.day:02d}-{MONTHS[end.month - 1]}-{end.year}"
    return {
        "post_id": post_id,
        "business_title": title,
        "salary_range_from": lo,
        "salary_range_to": hi,
        "posting_date": posting_date,
        "post_until": post_until,
    }


def _lightcast(rng: random.Random, titles: list[str], n: int) -> list[tuple]:
    """Occupation strings near role titles: plural, reordered, or
    unrelated; ties and nulls in the median duration."""
    rows = []
    picks = rng.sample(titles, min(n, len(titles)))
    for i, t in enumerate(picks):
        words = t.split()
        roll = rng.random()
        if roll < 0.5:
            occ = f"{t}s".title()
        elif roll < 0.8:
            occ = " ".join(words[-2:]).title() + "s"
        else:
            occ = f"{words[-1].title()} And Related Workers"
        rows.append((
            occ,
            float(rng.randrange(1_000, 90_000)),
            None if i % 17 == 0 else float(rng.choice(range(10, 60, 2))),
        ))
    return rows


def generate(seed: int, shape: Shape) -> Inputs:
    """All inputs of one workload, a pure function of ``seed``."""
    rng = random.Random(seed)
    drng = rng if shape.domain_seed is None else random.Random(shape.domain_seed)
    titles = title_domain(drng, shape.payroll_titles)
    post_titles = posting_titles(drng, titles, shape.posting_titles)
    payroll = _payroll_rows(rng, titles, shape)
    # every posting title appears equally often; batches cut one
    # shuffled stream, so each batch carries a similar title mix
    n_rows = shape.postings_per_batch * shape.batches
    stream = [post_titles[i % len(post_titles)] for i in range(n_rows)]
    rng.shuffle(stream)
    rows = [_posting(rng, i + 1, t) for i, t in enumerate(stream)]
    postings = [
        rows[b * shape.postings_per_batch:(b + 1) * shape.postings_per_batch]
        for b in range(shape.batches)
    ]
    lightcast = _lightcast(rng, titles, shape.lightcast_rows)
    return Inputs(payroll=payroll, postings=postings, lightcast=lightcast)


def _cell(ref: str, value) -> str:
    if value is None:
        return ""
    if isinstance(value, str):
        return f'<c r="{ref}" t="inlineStr"><is><t>{escape(value)}</t></is></c>'
    return f'<c r="{ref}"><v>{value!r}</v></c>'


def write_xlsx(path: str, header: list[str], rows: list[tuple]) -> None:
    """A minimal one-sheet SpreadsheetML workbook with inline strings;
    a missing cell is a null."""
    cols = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    body = []
    for r, row in enumerate([tuple(header)] + list(rows), start=1):
        cells = "".join(_cell(f"{cols[c]}{r}", v) for c, v in enumerate(row))
        body.append(f'<row r="{r}">{cells}</row>')
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel_ns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    pkg_rel = "http://schemas.openxmlformats.org/package/2006/relationships"
    doc_rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Default Extension="rels" '
            'ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>",
        "_rels/.rels":
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg_rel}">'
            f'<Relationship Id="rId1" Type="{doc_rel}/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>',
        "xl/workbook.xml":
            f'<?xml version="1.0" encoding="UTF-8"?><workbook {ns} {rel_ns}>'
            '<sheets><sheet name="Occupations" sheetId="1" r:id="rId1"/></sheets>'
            "</workbook>",
        "xl/_rels/workbook.xml.rels":
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg_rel}">'
            f'<Relationship Id="rId1" Type="{doc_rel}/worksheet" '
            'Target="worksheets/sheet1.xml"/></Relationships>',
        "xl/worksheets/sheet1.xml":
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet {ns}>'
            f"<sheetData>{''.join(body)}</sheetData></worksheet>",
    }
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in parts.items():
            # a fixed timestamp keeps the file byte-identical per seed
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(info, data, compress_type=zipfile.ZIP_DEFLATED)
