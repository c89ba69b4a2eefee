"""Seeded input generators for the benchmark.

Two families, both written under a caller-chosen directory:

* ``e1_sources`` -- the reference-shaped E1 sources: ``contacts.csv`` and
  ``contrats.csv`` (semicolon CSV with French headers) and
  ``relations.xlsx`` (first sheet, inline strings).  Row counts and key
  cardinalities are fixed by the construction; the seed only changes the
  values (names, dates, phone digits, prices).  The expected sink row
  counts are derived from the same construction.

* ``lake`` -- the harness-shaped parquet tables the registry queries read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  embeddings, documents), with the column types and value domains of the
  fixtures TESTDATA.md describes.  Row counts are fixed by the scale; the
  seed changes values.

Both are pure functions of (seed, size): the same seed gives byte-identical
files.
"""
import datetime as _dt
import os
import zipfile
from xml.sax.saxutils import escape as _xml_escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# E1 sources
# --------------------------------------------------------------------------

SURNAMES = ["MARTIN", "BERNARD", "THOMAS", "PETIT", "ROBERT", "RICHARD",
            "DURAND", "DUBOIS", "MOREAU", "LAURENT", "SIMON", "MICHEL",
            "LEFEBVRE", "LEROY", "ROUX", "DAVID", "BERTRAND", "MOREL"]
FIRST_NAMES = ["Jean", "Marie", "Pierre", "Sophie", "Luc", "Claire",
               "Paul", "Julie", "Louis", "Emma", "Hugo", "Lea", "Noah",
               "Chloe", "Jules", "Alice"]
COMPANY_WORDS = ["Conseil", "Batiment", "Transports", "Finance", "Services",
                 "Industrie", "Logistique", "Immobilier"]
CITIES = ["Paris", "Lyon", "Marseille", "Lille", "Nantes", "Bordeaux",
          "Toulouse", "Rennes"]
# the three labels etl.Relations maps, plus one it leaves unmapped (NULL)
RELATION_LABELS = ["espoux (e) de", "parent (e) de", "enfant (e) de"]
UNMAPPED_LABEL = "cousin (e) de"

CONTACT_HEADER = ["nom", "prenom", "date de naissance", "civilite",
                  "type de contact", "adresse", "code postal", "ville",
                  "pays", "telephone"]
CONTRACT_HEADER = ["nom", "prenom", "date de naissance",
                   "numero du contrat", "date d'ouverture", "isin",
                   "nombre", "prix unitaire", "date du prix", "valeur"]
RELATION_HEADER = ["nom source", "prenom source",
                   "date de naissance source", "nom destination",
                   "prenom destination", "date de naissance destination",
                   "type de relation"]

_EPOCH = _dt.date(1940, 1, 1)


def _dates(rng, n, span_days):
    return [_EPOCH + _dt.timedelta(days=int(d))
            for d in rng.integers(0, span_days, n)]


def _phones(rng, n):
    """Every format etl.Phone handles, plus invalid ones, cycled by row:
    3-part US, 001/+1 4-part, 10-digit, punctuated, 9-digit French,
    extension, leading-zero 10-digit, empty and garbage."""
    a = rng.integers(200, 1000, n)
    b = rng.integers(100, 1000, n)
    c = rng.integers(0, 10000, n)
    f = rng.integers(100000000, 1000000000, n)
    x = rng.integers(1, 1000, n)
    out = []
    for i in range(n):
        k = i % 10
        ai, bi, ci = a[i], b[i], c[i]
        if k == 0:
            out.append(f"{ai}-{bi}-{ci:04d}")
        elif k == 1:
            out.append(f"001-{ai}-{bi}-{ci:04d}")
        elif k == 2:
            out.append(f"+1-{ai}-{bi}-{ci:04d}")
        elif k == 3:
            out.append(f"{ai}{bi}{ci:04d}")
        elif k == 4:
            out.append(f"({ai}){bi}.{ci:04d}")
        elif k == 5:
            out.append(f"{f[i]}")
        elif k == 6:
            out.append(f"{ai}-{bi}-{ci:04d}x{x[i]}")
        elif k == 7:
            out.append(f"0{ai % 100:02d}{bi}{ci:04d}")
        elif k == 8:
            out.append("")
        else:
            out.append(f"tel{ai}")
    return out


def _write_csv(path, header, rows):
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(";".join(header) + "\n")
        for r in rows:
            fh.write(";".join("" if v is None else str(v) for v in r))
            fh.write("\n")


def _write_xlsx(path, header, rows):
    """Minimal one-sheet OOXML package with inline-string cells; a None
    cell is omitted, which io.Xlsx reads back as NULL."""
    def col(i):
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s
    letters = [col(i) for i in range(len(header))]
    parts = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<worksheet xmlns="http://schemas.openxmlformats.org/'
             'spreadsheetml/2006/main"><sheetData>']
    for r, cells in enumerate([header] + rows, start=1):
        parts.append(f'<row r="{r}">')
        for c, v in enumerate(cells):
            if v is not None:
                parts.append(f'<c r="{letters[c]}{r}" t="inlineStr"><is><t>'
                             f'{_xml_escape(str(v))}</t></is></c>')
        parts.append("</row>")
    parts.append("</sheetData></worksheet>")
    ct = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
          '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
          'content-types"><Default Extension="rels" ContentType="application/'
          'vnd.openxmlformats-package.relationships+xml"/><Default '
          'Extension="xml" ContentType="application/xml"/><Override '
          'PartName="/xl/workbook.xml" ContentType="application/'
          'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
          '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
          '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
          'worksheet+xml"/></Types>')
    rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
            '2006/relationships"><Relationship Id="rId1" Type="http://'
            'schemas.openxmlformats.org/officeDocument/2006/relationships/'
            'officeDocument" Target="xl/workbook.xml"/></Relationships>')
    wb = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
          '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/'
          '2006/main" xmlns:r="http://schemas.openxmlformats.org/'
          'officeDocument/2006/relationships"><sheets><sheet name="Sheet1" '
          'sheetId="1" r:id="rId1"/></sheets></workbook>')
    wbrels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
              '<Relationships xmlns="http://schemas.openxmlformats.org/'
              'package/2006/relationships"><Relationship Id="rId1" Type='
              '"http://schemas.openxmlformats.org/officeDocument/2006/'
              'relationships/worksheet" Target="worksheets/sheet1.xml"/>'
              '</Relationships>')
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", wbrels)
        z.writestr("xl/worksheets/sheet1.xml", "".join(parts))


def e1_sources(out_dir, seed, n_contacts, n_contracts, n_relations):
    """Write the three E1 sources; return their paths, the generated row
    counts and the sink row counts the pipeline must produce.

    Construction (fixed by the sizes, independent of the seed):
      * contacts: persons 0..P-1 with P = 9/10 of the rows; the last tenth
        repeat earlier persons (duplicate natural keys, other fields
        re-drawn).  Every fifth person is a company (PM: no first name, no
        birthday), the rest are people (PF).
      * contracts: unique contract numbers.  Row k belongs to, by k mod 10:
        0-5 an existing contact person, 6-8 one of the "new" holders
        (each holding three contracts), 9 nobody (name and first name both
        null, and no birthday, so all such rows share one PM entity).
      * relations: source is a PF contact person; the destination is a new
        person when j mod 4 == 0, else a PF contact person.  j mod 20 == 1
        drops the source first name, == 2 the destination's (those rows are
        skipped by the pipeline); j mod 10 == 3 carries an unmapped label.
    Names embed the person index, so distinct persons never share a key.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n_persons = n_contacts - n_contacts // 10
    is_pm = [p % 5 == 0 for p in range(n_persons)]
    sur = rng.integers(0, len(SURNAMES), n_persons)
    fst = rng.integers(0, len(FIRST_NAMES), n_persons)
    comp = rng.integers(0, len(COMPANY_WORDS), n_persons)
    bday = _dates(rng, n_persons, 60 * 365)
    persons = []  # (name, first_name, birthday date | None, type)
    for p in range(n_persons):
        if is_pm[p]:
            persons.append((f"SARL {COMPANY_WORDS[comp[p]]} {p:07d}",
                            None, None, "PM"))
        else:
            persons.append((f"{SURNAMES[sur[p]]}-{p:07d}",
                            FIRST_NAMES[fst[p]], bday[p], "PF"))
    pf_persons = [p for p in range(n_persons) if not is_pm[p]]

    def fr(d):
        return None if d is None else d.strftime("%d/%m/%Y")

    # contacts
    owner = [i if i < n_persons else (i - n_persons) * 7 % n_persons
             for i in range(n_contacts)]
    phones = _phones(rng, n_contacts)
    street = rng.integers(1, 200, n_contacts)
    zips = rng.integers(10000, 99999, n_contacts)
    city = rng.integers(0, len(CITIES), n_contacts)
    contacts = []
    for i, p in enumerate(owner):
        name, first, bd, typ = persons[p]
        civ = None if typ == "PM" else ("M." if i % 2 else "Mme")
        contacts.append((name, first, fr(bd), civ, typ,
                         f"{street[i]} rue {CITIES[city[i]]}", zips[i],
                         CITIES[city[i]], "France", phones[i]))

    # contracts
    n_new = n_contracts // 10 + 1
    new_sur = rng.integers(0, len(SURNAMES), n_new)
    new_fst = rng.integers(0, len(FIRST_NAMES), n_new)
    new_bd = _dates(rng, n_new, 60 * 365)
    new_holders = [(f"{SURNAMES[new_sur[h]]}-H{h:07d}",
                    FIRST_NAMES[new_fst[h]], new_bd[h], "PF")
                   for h in range(n_new)]
    open_at = _dates(rng, n_contracts, 20 * 365)
    priced = _dates(rng, n_contracts, 20 * 365)
    counts = rng.integers(1, 500, n_contracts)
    prices = np.round(rng.uniform(1.0, 900.0, n_contracts), 2)
    isin = rng.integers(10 ** 9, 10 ** 10, n_contracts)
    contracts = []
    contract_keys = set()
    for k in range(n_contracts):
        m = k % 10
        if m <= 5:
            holder = persons[(k * 31) % n_persons]
        elif m <= 8:
            holder = new_holders[k // 10]
        else:
            holder = (None, None, None, "PM")
        name, first, bd, _ = holder
        typ = "PM" if first is None and bd is None else "PF"
        contract_keys.add((name, first, bd, typ))
        value = round(float(counts[k]) * float(prices[k]), 2)
        contracts.append((name, first, fr(bd), f"C{k:09d}", fr(open_at[k]),
                          f"FR{isin[k]}", counts[k], prices[k],
                          fr(priced[k]), value))

    # relations
    n_pf = len(pf_persons)
    rel_fst = rng.integers(0, len(FIRST_NAMES), n_relations)
    rel_sur = rng.integers(0, len(SURNAMES), n_relations)
    rel_bd = _dates(rng, n_relations, 60 * 365)
    rel_lab = rng.integers(0, len(RELATION_LABELS), n_relations)
    relations = []
    endpoint_keys = set()
    n_rel_out = 0

    def iso(d):
        return None if d is None else d.strftime("%Y-%m-%d")
    for j in range(n_relations):
        src = persons[pf_persons[(j * 7) % n_pf]]
        if j % 4 == 0:
            dst = (f"{SURNAMES[rel_sur[j]]}-R{j:07d}",
                   FIRST_NAMES[rel_fst[j]], rel_bd[j], "PF")
        else:
            dst = persons[pf_persons[(j * 13 + 1) % n_pf]]
        s_first = None if j % 20 == 1 else src[1]
        d_first = None if j % 20 == 2 else dst[1]
        label = UNMAPPED_LABEL if j % 10 == 3 else \
            RELATION_LABELS[rel_lab[j]]
        relations.append((src[0], s_first, iso(src[2]),
                          dst[0], d_first, iso(dst[2]), label))
        if s_first is not None and d_first is not None:
            n_rel_out += 1
            endpoint_keys.add((src[0], s_first, src[2], "PF"))
            endpoint_keys.add((dst[0], d_first, dst[2], "PF"))

    paths = {"contacts": os.path.join(out_dir, "contacts.csv"),
             "contracts": os.path.join(out_dir, "contrats.csv"),
             "relations": os.path.join(out_dir, "relations.xlsx")}
    _write_csv(paths["contacts"], CONTACT_HEADER, contacts)
    _write_csv(paths["contracts"], CONTRACT_HEADER, contracts)
    _write_xlsx(paths["relations"], RELATION_HEADER, relations)

    contact_keys = {persons[p] for p in set(owner)}
    expected = {
        "entities": len(contact_keys | contract_keys | endpoint_keys),
        "contacts": len(contact_keys),
        "contracts": n_contracts,
        "relations": n_rel_out,
    }
    rows = {"contacts": n_contacts, "contracts": n_contracts,
            "relations": n_relations}
    return paths, rows, expected


# --------------------------------------------------------------------------
# Lake tables
# --------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
COLORS = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]

_US_PER_DAY = 86_400_000_000
_D1995 = int(np.datetime64("1995-01-01", "us").astype(np.int64))
_D2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))


def lake_rows(sf):
    """Row count per table at scale factor ``sf`` (the TESTDATA.md fixtures'
    proportions: sf0.1 = 600k lineitem, 100k events, 2k embeddings)."""
    return {"region": 5, "nation": 25,
            "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
            "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
            "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
            "embeddings": int(20_000 * sf), "documents": int(50_000 * sf)}


def _choice(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[
        rng.integers(0, len(values), n)], pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_days(rng, start_us, days, n):
    return pa.array(start_us + rng.integers(0, days, n) * _US_PER_DAY,
                    pa.timestamp("us"))


def lake(out_dir, seed, sf):
    """Write the lake tables as single parquet files
    (``<out_dir>/<table>.parquet``); return the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = lake_rows(sf)
    i64 = lambda a: pa.array(a, pa.int64())
    i32 = lambda a: pa.array(a, pa.int32())
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": i32(np.arange(5)), "r_name": pa.array(REGIONS)})
    tables["nation"] = pa.table({
        "n_nationkey": i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5)})
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": i64(np.arange(nc)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)]),
        "c_nationkey": i32(rng.integers(0, 25, nc)),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _choice(rng, SEGMENTS, nc)})
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(ns)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(ns)]),
        "s_nationkey": i32(rng.integers(0, 25, ns)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    names = np.asarray([f"{c} {w}" for c in COLORS for w in NOUNS],
                       dtype=object)
    tables["part"] = pa.table({
        "p_partkey": i64(np.arange(npart)),
        "p_name": pa.array(names[rng.integers(0, len(names), npart)],
                           pa.string()),
        "p_brand": pa.array(np.asarray(
            [f"Brand#{b}" for b in range(1, 26)], dtype=object)[
                rng.integers(0, 25, npart)], pa.string()),
        "p_type": _choice(rng, PART_TYPES, npart),
        "p_size": i32(rng.integers(1, 51, npart)),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0,
                                  2)})
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": i64(np.arange(no)),
        "o_custkey": i64(rng.integers(0, nc, no)),
        "o_orderstatus": _choice(rng, STATUSES, no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts_days(rng, _D1995, 2405, no),
        "o_orderpriority": _choice(rng, PRIORITIES, no)})
    nl = n["lineitem"]
    flags = np.asarray(["A", "N", "R"], dtype=object)
    tables["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, no, nl)),
        "l_partkey": i64(rng.integers(0, npart, nl)),
        "l_suppkey": i64(rng.integers(0, ns, nl)),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(flags[rng.integers(0, 3, nl)], pa.string()),
        "l_linestatus": _choice(rng, ["F", "O"], nl),
        "l_shipdate": _ts_days(rng, _D1995 + _US_PER_DAY, 2499, nl)})
    ne = n["events"]
    ts = np.sort(_D2024 + rng.integers(0, 30 * _US_PER_DAY, ne))
    tables["events"] = pa.table({
        "event_id": i64(np.arange(ne)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, 1500, ne)),
        "event_type": _choice(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, ne)], pa.string())})
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": i64(np.arange(nv)),
        "embedding": pa.array([list(v) for v in vecs.astype(np.float32)],
                              pa.list_(pa.float32())),
        "label": i32(labels)})
    nd = n["documents"]
    words = np.asarray(WORDS, dtype=object)
    text = [" ".join(words[rng.integers(0, len(words), k)])
            for k in rng.integers(8, 100, nd)]
    tables["documents"] = pa.table({
        "doc_id": i64(np.arange(nd)),
        "text": pa.array(text, pa.string()),
        "lang": _choice(rng, LANGS, nd),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, nd)],
                           pa.string()),
        "n_chars": i64([len(t) for t in text])})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {k: tables[k].num_rows for k in tables}
