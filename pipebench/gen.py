"""Seeded bronze-lake generator for the ingest workloads.

Writes the three bronze files the pipeline reads, in the reference's layout
(`bronze/<dataset>/ingest_date=<DATE>/<file>`), with the reference's quirks:

* housing CSV (ACS S2503): an ACS label row under the header, `(X)` and blank
  estimates, zero occupied-unit denominators, and duplicate counties whose
  later GEO_ID the gold build must drop (it keeps the first);
* school XLSX: shared strings, inline strings, missing (null) scores,
  non-numeric scores, whitespace-padded LEA ids and duplicate school ids;
* special-education CSV: four metadata lines above the header, blank and zero
  denominators, LEAs that are missing and LEAs listed twice (the left join
  fans out on a duplicate `lea_id`).

It also returns the row counts each layer must produce, computed from what it
generated with an independent model of the pipeline's rules, never by running
the program.
"""
import csv
import io
import os
import random
import re
import zipfile

INGEST_DATE = "2024-01-15"

SIZES = {
    "ingest_small": {"counties": 159, "leas": 180, "schools": 2300},
    "ingest_large": {"counties": 3000, "leas": 6000, "schools": 30000},
}

WORDS = ["Appling", "Bacon", "Clay", "Dade", "Early", "Fannin", "Glynn", "Hall",
         "Irwin", "Jasper", "Lamar", "Macon", "Newton", "Oconee", "Pike", "Rabun",
         "Screven", "Terrell", "Union", "Walker"]

HOUSING_COLS = ["GEO_ID", "NAME", "S2503_C01_001E", "S2503_C01_028E", "S2503_C01_032E",
                "S2503_C01_036E", "S2503_C01_040E", "S2503_C01_044E", "S2503_C01_999E"]
HOUSING_LABELS = ["Geography", "Geographic Area Name", "Estimate!!Occupied housing units",
                  "Estimate!!Less than $20,000!!30 percent or more",
                  "Estimate!!$20,000 to $34,999!!30 percent or more",
                  "Estimate!!$35,000 to $49,999!!30 percent or more",
                  "Estimate!!$50,000 to $74,999!!30 percent or more",
                  "Estimate!!$75,000 or more!!30 percent or more", "Unused label"]
SPECIAL_COLS = ["State LEA ID", "LEA Name", "School Age All Educational Environments",
                "School Age Inside regular class 80% or more of the day", "School Year",
                "Unused Col"]


def normalize_county(s):
    """The reference's county normalizer (silver_to_gold.py:15-36)."""
    if s is None:
        return None
    s = re.sub(r"(?i)\s+county\b", "", re.sub(r"(?i),\s*georgia\b", "", s.strip()))
    s = s.strip().lower()
    return s or None


def county_name(c):
    return f"{WORDS[c % len(WORDS)]} {c}"


def housing_rows(rng, n):
    rows, dups = [], []

    def estimate(hi):
        r = rng.random()
        if r < 0.02:
            return "(X)"
        if r < 0.03:
            return ""
        return str(rng.randint(0, hi))

    for c in range(n):
        # ", Georgia" and " County" in varied case and spacing: the normalizer
        # must map every spelling to the same join key
        name = (f"{county_name(c)} County, Georgia" if c % 7 else
                f"{county_name(c)} county,GEORGIA")
        occupied = "0" if rng.random() < 0.02 else estimate(500000)
        row = [f"0500000US1{c:07d}", name, occupied] + \
              [estimate(40000) for _ in range(5)] + [f"junk{c}"]
        rows.append(row)
        if rng.random() < 0.01:
            # a later duplicate of the county with a larger GEO_ID
            dups.append([f"0500000US9{c:07d}", name, estimate(500000)] +
                        [estimate(40000) for _ in range(5)] + ["dup"])
    return rows + dups


def lea_district(rng, j, n_counties):
    c = j if j < n_counties else rng.randrange(n_counties)
    r = rng.random()
    if r < 0.12:
        # a city system: its name normalizes to no housing county
        return f"{county_name(c)} City Schools"
    if r < 0.16:
        return f"{county_name(c)} County, Georgia"
    return f"{county_name(c)} County"


def xlsx_col(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def esc(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def write_xlsx(path, header, rows):
    """Rows of cells; a cell is None (omitted), int/float (number cell),
    ("inline", str) (inline string) or str (shared string)."""
    shared = {}
    out = []
    cols = [xlsx_col(i) for i in range(len(header))]
    for ri, row in enumerate([header] + rows, start=1):
        cells = []
        for ci, v in enumerate(row):
            ref = f"{cols[ci]}{ri}"
            if v is None:
                continue
            if isinstance(v, (int, float)):
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            elif isinstance(v, tuple):
                cells.append(f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                             f'{esc(v[1])}</t></is></c>')
            else:
                idx = shared.setdefault(v, len(shared))
                cells.append(f'<c r="{ref}" t="s"><v>{idx}</v></c>')
        out.append(f'<row r="{ri}">{"".join(cells)}</row>')
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
             f'<worksheet xmlns="{ns}"><sheetData>{"".join(out)}</sheetData></worksheet>')
    sis = "".join(f'<si><t xml:space="preserve">{esc(s)}</t></si>' for s in shared)
    sst = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
           f'<sst xmlns="{ns}" count="{len(shared)}" uniqueCount="{len(shared)}">{sis}</sst>')
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg = "http://schemas.openxmlformats.org/package/2006/relationships"
    entries = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
            '</Types>',
        "_rels/.rels":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n<Relationships xmlns="{pkg}">'
            f'<Relationship Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/></Relationships>',
        "xl/workbook.xml":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n<workbook xmlns="{ns}" xmlns:r="{rel}">'
            '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n<Relationships xmlns="{pkg}">'
            f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{rel}/sharedStrings" Target="sharedStrings.xml"/></Relationships>',
        "xl/sharedStrings.xml": sst,
        "xl/worksheets/sheet1.xml": sheet,
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=6) as z:
        for name, body in entries.items():
            # a fixed entry time: the same seed gives byte-identical files
            z.writestr(zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0)), body,
                       compress_type=zipfile.ZIP_DEFLATED)


def write_csv(path, rows, preamble=()):
    buf = io.StringIO()
    for line in preamble:
        buf.write(line + "\n")
    csv.writer(buf, lineterminator="\n").writerows(rows)
    with open(path, "w", encoding="utf-8") as f:
        f.write(buf.getvalue())


def generate(workload, seed, base):
    """Write the bronze lake for `workload` under `base`; return the
    expected per-layer counts and the bronze byte total."""
    size = SIZES[workload]
    rng = random.Random(seed)

    def bronze(dataset, name):
        d = os.path.join(base, "bronze", dataset, f"ingest_date={INGEST_DATE}")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, name)

    # housing
    housing = housing_rows(rng, size["counties"])
    write_csv(bronze("housing_affordability", "housing2019-23.csv"),
              [HOUSING_COLS, HOUSING_LABELS] + housing)
    housing_counties = {normalize_county(r[1]) for r in housing}

    # LEAs, then schools
    districts = [lea_district(rng, j, size["counties"]) for j in range(size["leas"])]
    school_rows = []
    lea_schools = {}
    for s in range(size["schools"]):
        j = s % size["leas"] if s < size["leas"] else rng.randrange(size["leas"])
        school_id = 100000 + s
        if s > 0 and rng.random() < 0.005:
            # an annex row repeating the previous school's id: nunique counts it once
            school_id, j = school_rows[-1][0], last_j
        score = round(rng.uniform(40, 100), 1)
        r = rng.random()
        score_cell = None if r < 0.03 else ("NA" if r < 0.04 else score)
        lea_id = str(1000 + j)
        lea_cell = ("inline", f" {lea_id} ") if rng.random() < 0.01 else 1000 + j
        district_cell = ("inline", districts[j]) if rng.random() < 0.02 else districts[j]
        school_rows.append([school_id, f"School {s} of {districts[j]}", lea_cell,
                            district_cell, score_cell, "z"])
        lea_schools.setdefault(j, set()).add(school_id)
        last_j = j
    write_xlsx(bronze("school_performance", "school_performance.xlsx"),
               ["schoolid", "schoolname", "systemid", "systemname", "single_score_23",
                "unused"], school_rows)

    # special education: some LEAs missing, some listed twice
    special = []
    special_per_lea = {}
    for j in range(size["leas"]):
        r = rng.random()
        copies = 0 if r < 0.03 else (2 if r < 0.05 else 1)
        for _ in range(copies):
            t = rng.random()
            total = "" if t < 0.01 else ("0" if t < 0.03 else str(rng.randint(10, 5000)))
            incl = str(rng.randint(0, int(total))) if total not in ("", "0") else "0"
            lea_id = f" {1000 + j}" if rng.random() < 0.01 else str(1000 + j)
            special.append([lea_id, districts[j], total, incl, "2022-23", "x"])
        special_per_lea[j] = copies
    write_csv(bronze("special_education", "special_education2022-23.csv"),
              [SPECIAL_COLS] + special,
              preamble=["Georgia Department of Education",
                        "IDEA Part B Educational Environments Report",
                        "School Year 2022-23",
                        f"Generated from seed {seed} -- synthetic"])

    # gold: one rollup row per (lea, district, county) with a non-null county
    # present in housing, fanned out by the LEA's special-ed rows (left join)
    gold_rows = 0
    gold_school_count = 0
    for j, ids in lea_schools.items():
        county = normalize_county(districts[j])
        if county is None or county not in housing_counties:
            continue
        fan = max(1, special_per_lea[j])
        gold_rows += fan
        gold_school_count += fan * len(ids)

    bronze_bytes = sum(os.path.getsize(os.path.join(d, f))
                       for d, _, fs in os.walk(os.path.join(base, "bronze")) for f in fs)
    return {
        "ingest_date": INGEST_DATE,
        "silver_rows": {"housing": len(housing), "school": len(school_rows),
                        "special_education": len(special)},
        "gold_rows": gold_rows,
        "gold_school_count_sum": gold_school_count,
        "bronze_bytes": bronze_bytes,
    }
