"""Seeded input generators for the benchmark.

Two generators, both pure functions of (version, seed, size):

* ``workbooks`` writes inventory workbooks with the ``Compras``/``Precios``
  sheets of the reference's inventory files (FIXTURES.md §1-2) and predicts
  the warehouse row counts that ingesting them must produce. The workbooks
  carry blank ``Liga`` cells (forward-filled from the row above), CANCELED
  deliveries, falsy ``P. Venta`` values and rows repeated across files.
* ``corpus`` writes a ``documents.parquet``: the engine's sf0.1
  ``documents`` table (``inputs/sf0.1_documents.parquet``) expanded N times
  with a copy-specific token per copy so exact dedup is not trivially
  (N-1)/N duplicates, in a seeded row order.

Every output directory name encodes the generator version, the seed and the
size, so a cached input can never be mistaken for another recipe's.
"""
import os
import random
import zipfile
from xml.sax.saxutils import escape

GEN_VERSION = 3

# ------------------------------------------------------------- workbooks

COMPRAS_COLS = ["Descripción", "Cant", "Precio", "% Desc", "C. Unit US",
                "C. Unit", "Total Cmpr", "Env US", "Envio", "Fch Cmpr",
                "Fch Entrga", "Euro", "Dólar", "Dsc US", "Desct", "Pzs",
                "Costo Final", "Liga", "TOTAL DESC", "Cmpr Final",
                "TOTAL CMPRS"]
PRECIOS_COLS = ["No", "Descripción", "Marca", "Categoria", "P. Tienda",
                "% Desc Cmpr", "Cant", "C. Unit", "Pzs", "Preview",
                "P. Venta", "P. Oferta", "Calc"]
# Store hosts that fall through to the generic provider rule
# (scheme://host/path): one provider per (store, seller path).
STORES = ["tiendaalfa", "casabeta", "mundogamma", "plazadelta",
          "bazarepsilon", "ofertazeta", "granjaeta", "puntotheta"]
BRANDS = ["Hello Kitty", "MARVEL", "Sanrio", "Disney", "Funko", "LEGO"]
CATS = ["Peluche", "Figura", "Juego", "Taza", "Llavero"]
WORDS = ["oso", "gato", "perro", "robot", "nave", "muneca", "carro", "tren",
         "pelota", "dado", "globo", "libro"]


def _col_ref(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def _cell(ref, v):
    if v is None:
        return ""
    if isinstance(v, tuple):  # ("date", serial)
        return f'<c r="{ref}" s="1"><v>{v[1]}</v></c>'
    if isinstance(v, (int, float)):
        return f'<c r="{ref}"><v>{v!r}</v></c>'
    return (f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
            f'{escape(v)}</t></is></c>')


def _sheet_xml(cols, rows, links):
    """links: {(row_index, col_index): url} for data rows."""
    out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
           'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
           '<sheetData>']
    out.append('<row r="1">' + "".join(
        _cell(f"{_col_ref(i)}1", c) for i, c in enumerate(cols)) + "</row>")
    for ri, row in enumerate(rows):
        rn = ri + 2
        out.append(f'<row r="{rn}">' + "".join(
            _cell(f"{_col_ref(i)}{rn}", v) for i, v in enumerate(row)) + "</row>")
    out.append("</sheetData>")
    rels = []
    if links:
        out.append("<hyperlinks>")
        for n, ((ri, ci), url) in enumerate(sorted(links.items())):
            rid = f"rId{n + 1}"
            out.append(f'<hyperlink ref="{_col_ref(ci)}{ri + 2}" r:id="{rid}"/>')
            rels.append((rid, url))
        out.append("</hyperlinks>")
    out.append("</worksheet>")
    return "".join(out), rels


def _write_xlsx(path, sheets):
    """sheets: [(name, cols, rows, links)] -> minimal OOXML workbook."""
    n = len(sheets)
    ct = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i}.xml" ContentType="application/'
        f'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        for i in range(1, n + 1))
    rel_ns = "http://schemas.openxmlformats.org/package/2006/relationships"
    doc_rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml",
                   '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                   '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
                   '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
                   '<Default Extension="xml" ContentType="application/xml"/>'
                   '<Override PartName="/xl/workbook.xml" ContentType="application/'
                   'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
                   + ct + "</Types>")
        z.writestr("_rels/.rels",
                   f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                   f'<Relationships xmlns="{rel_ns}"><Relationship Id="rId1" '
                   f'Type="{doc_rel}/officeDocument" Target="xl/workbook.xml"/>'
                   f'</Relationships>')
        z.writestr("xl/workbook.xml",
                   '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                   '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
                   f'xmlns:r="{doc_rel}"><sheets>' + "".join(
                       f'<sheet name="{escape(s[0])}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
                       for i, s in enumerate(sheets)) + "</sheets></workbook>")
        z.writestr("xl/_rels/workbook.xml.rels",
                   f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                   f'<Relationships xmlns="{rel_ns}">' + "".join(
                       f'<Relationship Id="rId{i}" Type="{doc_rel}/worksheet" '
                       f'Target="worksheets/sheet{i}.xml"/>' for i in range(1, n + 1))
                   + f'<Relationship Id="rId{n + 1}" Type="{doc_rel}/styles" '
                   f'Target="styles.xml"/></Relationships>')
        z.writestr("xl/styles.xml",
                   '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                   '<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                   '<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14" '
                   'applyNumberFormat="1"/></cellXfs></styleSheet>')
        for i, (_, cols, rows, links) in enumerate(sheets, start=1):
            xml, rels = _sheet_xml(cols, rows, links)
            z.writestr(f"xl/worksheets/sheet{i}.xml", xml)
            if rels:
                z.writestr(f"xl/worksheets/_rels/sheet{i}.xml.rels",
                           f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                           f'<Relationships xmlns="{rel_ns}">' + "".join(
                               f'<Relationship Id="{rid}" Type="{doc_rel}/hyperlink" '
                               f'Target="{escape(url)}" TargetMode="External"/>'
                               for rid, url in rels) + "</Relationships>")


def _purchase_row(rng, product, store, seller):
    qty = rng.randint(1, 5)
    cunit_us = round(rng.uniform(2, 60), 2)
    dolar = round(rng.uniform(17, 21), 2)
    cunit = round(cunit_us * dolar, 2)
    total = round(cunit * qty, 2)
    return {
        "Descripción": product, "Cant": qty,
        "Precio": round(cunit * 1.2, 2), "% Desc": round(rng.uniform(0, 0.5), 4),
        "C. Unit US": cunit_us, "C. Unit": cunit, "Total Cmpr": total,
        "Env US": round(rng.uniform(0, 5), 2),
        "Envio": round(rng.uniform(0, 90), 2) if rng.random() < 0.7 else None,
        "Fch Cmpr": ("date", 45000 + rng.randint(0, 400)),
        "Fch Entrga": ("date", 45400 + rng.randint(0, 60)),
        "Euro": None, "Dólar": dolar, "Dsc US": round(rng.uniform(0, 3), 2),
        "Desct": round(rng.uniform(0, 40), 2) if rng.random() < 0.6 else None,
        "Pzs": rng.randint(1, 3), "Costo Final": round(total * 1.05, 2),
        "Liga": f"https://www.{store}.com/{seller}?item={rng.randint(1, 10**6)}",
        "TOTAL DESC": None, "Cmpr Final": None, "TOTAL CMPRS": None,
    }


def _store_of(url):
    host = url.split("/")[2]
    return host.split(".")[1]


def _provider_of(url):
    return url.split("?")[0]


def workbooks(out_dir, seed, n_files, rows_per_file):
    """Write `n_files` workbooks (wb_000.xlsx …) into `out_dir` and return
    the predicted warehouse counts after ingesting the first k files, for
    every k (list index k-1), as dicts of table -> rows."""
    rng = random.Random(f"workbooks:{GEN_VERSION}:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    n_products = max(8, n_files * rows_per_file // 3)
    products = [f"{rng.choice(WORDS).capitalize()} {rng.choice(WORDS)} modelo {k}"
                for k in range(n_products)]
    sellers = [f"vendedor{k}" for k in range(12)]
    history = []  # every non-canceled row written so far (repeat pool)
    stores, providers, facts, fact_products = set(), set(), set(), set()
    predictions = []
    for f in range(n_files):
        rows = []
        for r in range(rows_per_file):
            if history and rng.random() < 0.12:
                row = dict(rng.choice(history))  # repeated purchase: J5 no-op
            else:
                row = _purchase_row(rng, rng.choice(products),
                                    rng.choice(STORES), rng.choice(sellers))
                if rng.random() < 0.06:
                    row["Fch Entrga"] = "CANCELED"
            rows.append(row)
        # blank Liga cells: never the first row, never two in a row, so the
        # one-row lookback always resolves to the previous row's link
        effective = []
        for r, row in enumerate(rows):
            if r > 0 and rows[r - 1]["Liga"] is not None and rng.random() < 0.1:
                row["Liga"] = None
            effective.append(row["Liga"] or rows[r - 1]["Liga"])
        for row, link in zip(rows, effective):
            store = _store_of(link)
            stores.add(store)
            providers.add((store, _provider_of(link)))
            if row["Fch Entrga"] != "CANCELED":
                facts.add((row["Descripción"], row["Cant"], row["C. Unit"],
                           row["Fch Cmpr"][1]))
                fact_products.add(row["Descripción"])
                history.append(dict(row, Liga=link))
        # Precios: one row per product of the file, first-appearance order
        seen = []
        for row in rows:
            if row["Descripción"] not in seen:
                seen.append(row["Descripción"])
        precios, links = [], {}
        for i, p in enumerate(seen):
            venta = rng.choice([0, None, round(rng.uniform(50, 900), 2),
                                round(rng.uniform(50, 900), 2)])
            precios.append([i + 1, p, rng.choice(BRANDS) if rng.random() < 0.8 else None,
                            rng.choice(CATS), round(rng.uniform(50, 900), 2),
                            round(rng.uniform(0, 0.5), 4), rng.randint(1, 5),
                            round(rng.uniform(40, 800), 2), rng.randint(1, 3),
                            "Preview", venta,
                            round(rng.uniform(40, 700), 2) if rng.random() < 0.6 else None,
                            None])
            if rng.random() < 0.9:
                links[(i, PRECIOS_COLS.index("Preview"))] = \
                    f"https://img.example.com/{seed}/{f}/{i}.jpg"
        compras = [[row[c] for c in COMPRAS_COLS] for row in rows]
        _write_xlsx(os.path.join(out_dir, f"wb_{f:03d}.xlsx"),
                    [("Compras", COMPRAS_COLS, compras, {}),
                     ("Precios", PRECIOS_COLS, precios, links)])
        predictions.append({
            "payment_type": 1, "store": len(stores), "provider": len(providers),
            "product": len(fact_products), "purchase": len(facts),
            "operation": len(facts), "price": len(fact_products)})
    return predictions


# ---------------------------------------------------------------- corpus

# The engine's sf0.1 `documents` table, committed with the benchmark so a
# run reads nothing outside its checkout.
BASE_DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "inputs", "sf0.1_documents.parquet")


def corpus(out_path, seed, copies, limit=None):
    """Expand the sf0.1 documents (the first `limit` of them, if given)
    `copies` times and write them in a seeded row order. Copy 0 is the
    table as it is; every later copy of a doc gets one copy-specific token,
    so exact dedup is not trivially (N-1)/N duplicates while near-dup
    detection still sees the copies.

    The rows themselves do not depend on the seed, only their order does:
    the DuckDB oracles of the curation queries over 10 000 docs take longer
    than a measured pass, and with fixed rows they are computed once and
    reused for every seed. Returns a digest of the rows, independent of
    their order, that keys those cached oracles."""
    import hashlib
    import pyarrow as pa
    import pyarrow.parquet as pq
    base = pq.read_table(BASE_DOCUMENTS).to_pydict()
    n = len(base["doc_id"]) if limit is None else min(limit, len(base["doc_id"]))
    tokens = random.Random(f"corpus-tokens:{GEN_VERSION}")
    rows = []
    for c in range(copies):
        for i in range(n):
            text = base["text"][i]
            if c:
                words = text.split()
                words.insert(tokens.randrange(len(words) + 1), f"copy{c}x{i % 97}")
                text = " ".join(words)
            rows.append((c * n + i, text, base["lang"][i], base["source"][i], len(text)))
    digest = hashlib.sha256()
    for r in rows:
        digest.update("\t".join(map(str, r)).encode() + b"\n")
    random.Random(f"corpus:{GEN_VERSION}:{seed}").shuffle(rows)
    ids, texts, langs, sources, nchars = zip(*rows)
    tbl = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": list(texts),
                    "lang": list(langs), "source": list(sources),
                    "n_chars": pa.array(nchars, pa.int64())})
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    tmp = out_path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, out_path)
    return digest.hexdigest()


def cached_dir(root, kind, seed, **size):
    """Input directory whose name encodes generator, version, seed, size."""
    key = "_".join(f"{k}{v}" for k, v in sorted(size.items()))
    return os.path.join(root, f"{kind}_v{GEN_VERSION}_s{seed}_{key}")

