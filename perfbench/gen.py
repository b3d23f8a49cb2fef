"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same bytes. The engine only ever sees the files written here.
"""
import io
import os
import re
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# TPC-H-ish star schema plus the text, vector and event tables, with the
# column names and types of the engine's fixtures. Row counts are those of
# scale factor 0.1 times `scale`; lineitem has about four rows per order.
BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "events": 100000, "documents": 5000,
             "embeddings": 2000}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("a the data spark row column table key value group sort hash join "
         "filter scan agg query window stream batch merge order part line "
         "customer vector fast slow big small").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "green", "small", "red", "cold"]
PART_NOUN = ["ring", "bolt", "plate", "nut", "gear", "pipe", "valve"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
EMB_DIM = 64


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days, n) * 86400 * 10**6).astype(
        "timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _text_docs(rng, n):
    """Documents of random vocabulary words; about 6% are near-copies of an
    earlier document (a few words replaced), so the dedup operators find
    pairs, and a few are exact copies."""
    words = np.array(VOCAB)
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.06:
            src = texts[int(rng.integers(0, i))].split(" ")
            if rng.random() < 0.9:
                for _ in range(int(rng.integers(1, 3))):
                    src[int(rng.integers(0, len(src)))] = str(
                        rng.choice(words))
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(6, 90))
            texts.append(" ".join(rng.choice(words, k)))
    return texts


def _embeddings(rng, n):
    centers = rng.normal(0, 1, (10, EMB_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0, 0.9, (n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels.astype(np.int32)


def make_tables(seed, scale):
    """The tables as pyarrow Tables, keyed by name, before any permutation."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999, 9999),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999, 9999)})
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart),
                                               rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(npart) * 0.1, 2)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": _money(rng, no, 900, 450000),
        "o_orderdate": _days(rng, no, "1992-01-01", 3650),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    # Four lines per order on average. As in the engine's fixtures, each
    # line draws its order and its line number (1 to 7) independently, so
    # (l_orderkey, l_linenumber) repeats: at sf0.1 the fixtures have
    # 600,000 rows and 456,861 distinct pairs.
    nl = 4 * no
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900, 105000),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _days(rng, nl, "1992-01-01", 3650)})
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(40.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = _text_docs(rng, nd)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    nv = n["embeddings"]
    vecs, labels = _embeddings(rng, nv)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels})
    return t


def write_permuted(table, path, rng, max_files=4):
    """Write `table` as a directory of parquet files: rows shuffled, then cut
    into a seed-chosen number of files at seed-chosen points."""
    os.makedirs(path, exist_ok=True)
    perm = rng.permutation(table.num_rows)
    shuffled = table.take(pa.array(perm))
    k = int(rng.integers(1, max_files + 1)) if table.num_rows > 100 else 1
    cuts = sorted(rng.choice(np.arange(1, table.num_rows), k - 1,
                             replace=False)) if k > 1 else []
    bounds = [0, *cuts, table.num_rows]
    for i in range(k):
        part = shuffled.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def write_tables(seed, out_dir, scale, names):
    """The named tables, each a permuted directory `<name>.parquet/`."""
    tables = make_tables(seed, scale)
    rng = np.random.default_rng(seed + 7919)
    for name in names:
        write_permuted(tables[name], os.path.join(out_dir, f"{name}.parquet"),
                       rng)
    return {name: tables[name].num_rows for name in names}


# ── xlsx ──────────────────────────────────────────────────────────────────

def _col_ref(i):
    s = ""
    i += 1
    while i > 0:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path, rows):
    """A one-sheet workbook: ints and floats as numeric cells, other values
    as inline strings, None as an absent cell."""
    out = io.StringIO()
    for i, row in enumerate(rows, 1):
        out.write(f'<row r="{i}">')
        for j, v in enumerate(row):
            if v is None:
                continue
            ref = f"{_col_ref(j)}{i}"
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                out.write(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                out.write(f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t>'
                          f'</is></c>')
        out.write("</row>")
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml",
                   '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://'
                   'schemas.openxmlformats.org/package/2006/content-types"/>')
        z.writestr("xl/workbook.xml",
                   f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{ns}" '
                   f'xmlns:r="{rel}"><sheets><sheet name="Sheet1" sheetId="1" '
                   f'r:id="rId1"/></sheets></workbook>')
        z.writestr("xl/_rels/workbook.xml.rels",
                   '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="'
                   'http://schemas.openxmlformats.org/package/2006/relationships">'
                   '<Relationship Id="rId1" Type="worksheet" '
                   'Target="worksheets/sheet1.xml"/></Relationships>')
        z.writestr("xl/worksheets/sheet1.xml",
                   f'<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="{ns}">'
                   f'<sheetData>{out.getvalue()}</sheetData></worksheet>')


# ── vendor_tick ───────────────────────────────────────────────────────────

LAYOUTS = ["allocation", "leavins", "acme", "phillips", "southerncross"]
SETUP_LAYOUTS = ["allocation", "acme", "phillips", "southerncross"]
PDF_SIZES = [4000, 9000, 16000]  # PO PDFs per vendor, bytes
CONFIGS = {"allocation": ("P2E", 81214), "leavins": ("P2M", 79906),
           "acme": ("P20", 44602), "phillips": ("P20", 53459),
           "southerncross": ("P2M", 80104)}
ACME_DOCKS = {"il": {189, 436}, "fl": {407, 499}}
DOCKS = [189, 436, 407, 499]
DESCS = ["FROZEN SHRIMP", "SALMON FILLET", "COD LOIN", "TUNA STEAK",
         "CRAB LEGS", "OYSTERS", "SCALLOPS", "LOBSTER TAIL"]


def _vendor_sheet(rng, layout, n_rows, stores):
    """(grid rows, spreadsheet file name, expected canonical rows). The
    expected rows are the long-form facts, group-summed, zero-dropped and
    sorted by (Branch, Item, Distro Size), known before the grid is drawn
    wide; each is (branch, item, distro, warehouse or None)."""
    items = rng.integers(1000000, 9999999, max(2, int(n_rows * 0.8)))
    facts = {}
    if layout in ("allocation", "leavins", "southerncross"):
        branches = list(rng.choice(stores, 12, replace=False))
        rows = []
        for _ in range(n_rows):
            item = int(rng.choice(items))
            cells = []
            for b in branches:
                q = int(rng.integers(0, 12)) if rng.random() < 0.6 else None
                if q is not None:
                    facts[(b, item)] = facts.get((b, item), 0) + q
                cells.append(q)
            rows.append((item, cells))
        if layout == "southerncross":
            header = ["Item", "Description"] + [f"{b}.0" if b % 2 else str(b)
                                                for b in branches] + ["LOT #", "junk"]
            grid = [header]
            for item, cells in rows:
                text = [("n/a" if rng.random() < 0.5 else "") if q is None
                        else (f"{q}.0" if q % 3 == 0 else str(q)) for q in cells]
                grid.append([f"{item}.0" if item % 2 else str(item),
                             str(rng.choice(DESCS))] + text
                            + [f"L{int(rng.integers(1, 99))}", "j"])
            for _ in range(max(1, n_rows // 50)):
                grid.append(["0", "ZERO ROW"] + ["9"] * len(branches) + ["L0", "j"])
            name = "southern cross ibt.xlsx"
        else:
            header = ["Item#", "Item Description"] + [
                f"{b}.0" if b % 2 else str(b) for b in branches] + ["Total"]
            grid = [["Allocation Report"] + [""] * (len(header) - 1), header]
            for item, cells in rows:
                grid.append([str(item), str(rng.choice(DESCS))] + cells
                            + [sum(q or 0 for q in cells)])
            grid.append(["TOTALS", ""] + [0] * len(branches) + [0])
            name = f"weekly allocation {layout}.xlsx"
        expected = [(b, i, q, None) for (b, i), q in facts.items() if q != 0]
    else:
        if layout == "acme":
            side = "il" if rng.random() < 0.5 else "fl"
            allowed = ACME_DOCKS[side]
            header = ["id", "junk", "dock", "Branch", "Item", "Description",
                      "Distro Size", "extra"]
            name = f"acme {side} week.xlsx"
        else:
            dock = int(rng.choice(DOCKS))
            allowed = {dock}
            header = ["junk", "dock", "Branch", "Item", "Description",
                      "Distro Size", "x"]
            name = f"phillips {dock} export.xlsx"
        grid = [header]
        expected = []
        for r in range(n_rows):
            dock = int(rng.choice(DOCKS))
            b, item = int(rng.choice(stores)), int(rng.choice(items))
            q = int(rng.integers(0, 20))
            body = [dock, b, item, str(rng.choice(DESCS)), q]
            grid.append(([r, "x"] + body + ["zzz"]) if layout == "acme"
                        else (["a"] + body + ["z"]))
            if dock in allowed and q != 0:
                expected.append((b, item, q, dock if layout == "phillips" else None))
    expected.sort(key=lambda t: (t[0], t[1], t[2]))
    return grid, name, expected


def _status_sheet(vendors, stores):
    """The orchestrator's sheet: one section, every vendor row Ready, a PO
    number under each store the vendor ships to."""
    header = ["Note", "Vendor #", "Vendor Name"] + [str(s) for s in stores] + ["Status"]
    rows = [header]
    for i, v in enumerate(vendors):
        cells = [v["pos"].get(s) for s in stores]
        rows.append(["seafood" if i == 0 else None, v["num"], v["name"]]
                    + cells + ["Ready"])
    return rows


def write_vendor_tick(seed, out_dir, n_vendors, row_range):
    """Vendor spreadsheets, PO PDFs and status sheets under `out_dir`.
    Returns the expected outputs per vendor number."""
    rng = np.random.default_rng(seed)
    stores = sorted(int(s) for s in rng.choice(np.arange(100, 1000), 33, replace=False))
    vendors, expected, tsv = [], {}, []
    # The measured sheet always holds the same vendors in the same order:
    # layouts in rotation, row counts spaced evenly on a log scale and
    # interleaved small/large, so the pool's mix of concurrent work repeats.
    # The seed draws every cell, so seeds differ in content, not in load.
    lo, hi = np.log10(row_range[0]), np.log10(row_range[1])
    sizes = [int(10 ** (lo + (hi - lo) * i / max(1, n_vendors - 1)))
             for i in range(n_vendors)]
    order = [x for pair in zip(sizes[:n_vendors // 2], sizes[::-1]) for x in pair]
    shapes = [(LAYOUTS[i % len(LAYOUTS)], n) for i, n in enumerate(order[:n_vendors])]
    # the set-up sheet: one small vendor per pipeline
    shapes = [(layout, row_range[0]) for layout in SETUP_LAYOUTS] + shapes
    for i, (layout, n_rows) in enumerate(shapes):
        num = str(20000 + i)
        grid, name, exp = _vendor_sheet(rng, layout, n_rows, stores)
        vdir = os.path.join(out_dir, "vendors", num)
        os.makedirs(vdir, exist_ok=True)
        write_xlsx(os.path.join(vdir, name), grid)
        pdir = os.path.join(out_dir, "pdfs", num)
        os.makedirs(pdir, exist_ok=True)
        pos, pdf_bytes = {}, 0
        for s, size in zip(rng.choice(stores, len(PDF_SIZES), replace=False), PDF_SIZES):
            po = int(rng.integers(10000, 99999))
            pos[int(s)] = po
            body = rng.bytes(size)
            data = b"%PDF-1.4\n" + body + b"\n%%EOF\n"
            with open(os.path.join(pdir, f"{num}-{s}-{po}.pdf"), "wb") as f:
                f.write(data)
            pdf_bytes += len(data)
        vendors.append({"num": num, "name": f"Vendor {num}", "pos": pos})
        tsv.append(f"{num}\t{layout}\tvendors/{num}/{name}\tpdfs/{num}")
        expected[num] = {"layout": layout, "rows": exp, "pdf_bytes": pdf_bytes,
                         "n_pdfs": len(pos), "config": CONFIGS[layout]}
    with open(os.path.join(out_dir, "vendors.tsv"), "w") as f:
        f.write("\n".join(tsv) + "\n")
    n_setup = len(SETUP_LAYOUTS)
    write_xlsx(os.path.join(out_dir, "warm_sheet.xlsx"),
               _status_sheet(vendors[:n_setup], stores))
    write_xlsx(os.path.join(out_dir, "sheet.xlsx"),
               _status_sheet(vendors[n_setup:], stores))
    return {k: v for k, v in expected.items() if int(k) >= 20000 + n_setup}


def read_xlsx_first_sheet(path):
    """Rows of the first worksheet as lists of strings (None for blank)."""
    with zipfile.ZipFile(path) as z:
        xml = z.read("xl/worksheets/sheet1.xml").decode("utf-8")
    rows = []
    for row in re.finditer(r"<row[^>]*>(.*?)</row>", xml, re.S):
        cells = {}
        for c in re.finditer(r'<c r="([A-Z]+)\d+"[^>]*>(.*?)</c>', row.group(1), re.S):
            m = re.search(r"<(?:v|t)[^>]*>(.*?)</(?:v|t)>", c.group(2), re.S)
            idx = 0
            for ch in c.group(1):
                idx = idx * 26 + ord(ch) - 64
            cells[idx - 1] = m.group(1) if m else None
        rows.append([cells.get(i) for i in range(max(cells) + 1)] if cells else [])
    return rows


# ── index_append ──────────────────────────────────────────────────────────

def write_index_append(seed, out_dir, scale, base_share=0.6):
    """A base corpus, one batch of the remaining rows and the probe sets."""
    rng = np.random.default_rng(seed)
    n_docs = max(10, int(BASE_ROWS["documents"] * scale))
    n_emb = max(10, int(BASE_ROWS["embeddings"] * scale))
    texts = _text_docs(rng, n_docs)
    vecs, _ = _embeddings(rng, n_emb)
    docs = pa.table({"doc_id": pa.array(np.arange(n_docs), pa.int64()), "text": texts})
    emb = pa.table({"id": pa.array(np.arange(n_emb), pa.int64()),
                    "vec": pa.array([list(map(float, v)) for v in vecs],
                                    pa.list_(pa.float64()))})

    def split(t):
        perm = rng.permutation(t.num_rows)
        n_base = int(t.num_rows * base_share)
        return t.take(pa.array(np.sort(perm[:n_base]))), t.take(pa.array(perm[n_base:]))

    base_docs, batch_docs = split(docs)
    base_emb, batch_emb = split(emb)
    pq.write_table(base_docs, os.path.join(out_dir, "base_docs.parquet"))
    pq.write_table(base_emb, os.path.join(out_dir, "base_emb.parquet"))
    pq.write_table(docs.take(pa.array(rng.choice(n_docs, 50, replace=False))),
                   os.path.join(out_dir, "probe_docs.parquet"))
    pq.write_table(emb.take(pa.array(rng.choice(n_emb, 20, replace=False))),
                   os.path.join(out_dir, "probe_emb.parquet"))
    d = os.path.join(out_dir, "batch")
    os.makedirs(d)
    pq.write_table(batch_docs, os.path.join(d, "docs.parquet"))
    pq.write_table(batch_emb, os.path.join(d, "emb.parquet"))
    return {"documents": n_docs, "embeddings": n_emb,
            "base_documents": base_docs.num_rows, "base_embeddings": base_emb.num_rows}
