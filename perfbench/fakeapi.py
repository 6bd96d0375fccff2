"""Seeded in-process fake of the USAJOBS search API, with ground truth.

Each call to ``next_cycle`` pre-renders one scan's pages (plain dicts, the
shape the real API returns) and advances a model of what the job table
must hold afterwards. The transport then serves those pages by number.

Per cycle of ``n`` postings:
- ``reuse`` of the valid unique keys were served in earlier cycles
  (updates), the rest are new (inserts);
- ~3% are in-batch duplicate URIs placed after their first occurrence
  with a different title (the first occurrence must win);
- ~1% are invalid (blank title, non-http URI or missing URI);
- nested fields are dirty: missing/empty arrays, non-numeric salaries,
  ``Z``-suffixed, 7-digit-fraction and unparseable dates.

Titles carry the cycle and position, so the table's title for a key
shows which version won (last writer across cycles, first within one).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

PAGE_SIZE = 500
URI_PREFIX = "https://data.usajobs.gov/job/"
ORGS = [f"Agency {i:02d}" for i in range(40)]
DEPTS = [f"Department {i:02d}" for i in range(12)]
TITLES = ["Data Engineer", "IT Specialist", "Program Analyst", "Statistician", "Contract Specialist", "Nurse"]
CITIES = [("Washington", "DC"), ("Denver", "CO"), ("Austin", "TX"), ("Seattle", "WA"), ("Boston", "MA")]
CATEGORIES = ["Information Technology", "Management", "Medical", "Engineering"]


def uri_of(key: int) -> str:
    return f"{URI_PREFIX}{key}"


@dataclass
class Expected:
    """What one cycle must report and leave behind."""

    items: int  # postings served, invalid and duplicates included
    valid: int  # postings passing validation (duplicates included)
    extracted: int  # distinct valid keys in the batch
    inserted: int
    updated: int
    live_rows: int
    titles: dict[int, str]  # key -> winning (trimmed) title, for this batch


@dataclass
class FakeUsajobsApi:
    seed: int
    reuse: float = 0.6
    dup_ratio: float = 0.03
    invalid_ratio: float = 0.01
    rng: random.Random = field(init=False)
    keys: list[int] = field(default_factory=list)  # live keys, insertion order
    titles: dict[int, str] = field(default_factory=dict)  # live key -> current title
    next_key: int = 0
    cycle: int = 0
    pages: dict[int, dict] = field(default_factory=dict)
    transport_calls: int = 0

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)

    # -- rendering ------------------------------------------------------------

    def _descriptor(self, key_uri: str | None, title: str | None) -> dict:
        r = self.rng.random
        d: dict = {}
        if title is not None:
            d["PositionTitle"] = title
        if key_uri is not None:
            d["PositionURI"] = key_uri
        x = r()
        if x < 0.85:
            city, st = CITIES[int(r() * len(CITIES))]
            loc = {"CityName": city, "StateCode": st}
            if r() < 0.9:
                loc["CountryCode"] = "US"
            d["PositionLocation"] = [loc]
        elif x < 0.93:
            d["PositionLocation"] = []
        x = r()
        lo = 40_000 + int(r() * 100_000)
        if x < 0.7:
            d["PositionRemuneration"] = [
                {"MinimumRange": f"{lo}.0", "MaximumRange": str(lo + 30_000), "RateIntervalCode": "Per Year"}
            ]
        elif x < 0.8:
            d["PositionRemuneration"] = [{"MinimumRange": str(lo), "RateIntervalCode": "Per Year"}]
        elif x < 0.9:
            d["PositionRemuneration"] = [{"MinimumRange": "DOE", "MaximumRange": "DOE", "RateIntervalCode": "PA"}]
        elif x < 0.95:
            d["PositionRemuneration"] = []
        for name in ("PositionStartDate", "PositionEndDate"):
            x = r()
            day = f"2026-{1 + int(r() * 12):02d}-{1 + int(r() * 28):02d}"
            if x < 0.6:
                d[name] = f"{day}T00:00:00.0000000"
            elif x < 0.8:
                d[name] = f"{day}T08:30:00Z"
            elif x < 0.9:
                d[name] = "TBD"
        if r() < 0.95:
            d["OrganizationName"] = ORGS[int(r() * len(ORGS))]
        if r() < 0.95:
            d["DepartmentName"] = f" {DEPTS[int(r() * len(DEPTS))]} "
        if r() < 0.9:
            d["JobCategory"] = [{"Name": CATEGORIES[int(r() * len(CATEGORIES))]}]
        if r() < 0.9:
            d["JobGrade"] = [{"Code": f"GS-{5 + int(r() * 11)}"}]
        return {"MatchedObjectDescriptor": d}

    def _title(self, pos: int) -> str:
        base = TITLES[int(self.rng.random() * len(TITLES))]
        pad = "  " if self.rng.random() < 0.2 else ""
        return f"{pad}{base} c{self.cycle}-{pos}{pad}"

    def next_cycle(self, n_pages: int) -> Expected:
        """Pre-render the next scan's pages and advance the model."""
        rng = self.rng
        self.cycle += 1
        n = n_pages * PAGE_SIZE
        n_invalid = round(n * self.invalid_ratio)
        n_dup = round(n * self.dup_ratio)
        n_unique = n - n_invalid - n_dup
        n_old = min(len(self.keys), round(n_unique * self.reuse))
        old = rng.sample(self.keys, n_old)
        new = list(range(self.next_key, self.next_key + n_unique - n_old))
        self.next_key += len(new)
        unique = old + new
        rng.shuffle(unique)

        # (order, descriptor, key-or-None, trimmed title); duplicates sort
        # after their original, invalid postings anywhere
        rows: list[tuple[float, dict]] = []
        batch_titles: dict[int, str] = {}
        for i, key in enumerate(unique):
            title = self._title(i)
            batch_titles[key] = title.strip()
            rows.append((float(i), self._descriptor(uri_of(key), title)))
        for _ in range(n_dup):
            i = int(rng.random() * (n_unique - 1))
            rows.append((rng.uniform(i + 0.5, n_unique), self._descriptor(uri_of(unique[i]), f"Shadow {i}")))
        for j in range(n_invalid):
            kind = j % 3
            if kind == 0:  # blank title on a fresh key that never enters the table
                desc = self._descriptor(uri_of(10**12 + self.next_key + j), "   ")
            elif kind == 1:
                desc = self._descriptor(f"ftp://bad.example/{self.cycle}/{j}", "Analyst")
            else:
                desc = self._descriptor(None, "Analyst")
            rows.append((rng.uniform(0, n_unique), desc))
        rows.sort(key=lambda t: t[0])

        self.pages = {}
        for p in range(n_pages):
            items = [d for _, d in rows[p * PAGE_SIZE : (p + 1) * PAGE_SIZE]]
            self.pages[p + 1] = {
                "SearchResult": {
                    "SearchResultCount": len(items),
                    "SearchResultCountAll": n,
                    "SearchResultItems": items,
                }
            }

        self.keys.extend(new)
        self.titles.update(batch_titles)
        return Expected(
            items=n,
            valid=n_unique + n_dup,
            extracted=n_unique,
            inserted=len(new),
            updated=n_old,
            live_rows=len(self.keys),
            titles=batch_titles,
        )

    def transport(self, params: dict) -> dict:
        """The ``params -> payload`` callable ``RestPageSource`` expects."""
        self.transport_calls += 1
        page = self.pages.get(params["Page"])
        if page is None:
            return {"SearchResult": {"SearchResultCount": 0, "SearchResultCountAll": 0, "SearchResultItems": []}}
        return page
