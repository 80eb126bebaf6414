#!/usr/bin/env python3
"""Independent oracle for the warehouse ingestion pipeline.

Replays the REFERENCE's row-at-a-time semantics (import_files_to_postgre.py +
database_utils.py + utils_tools.py of /root/reference, re-implemented from
the SURVEY.md spec — not imported, not copied) over the fixture workbooks,
using only stdlib zip+XML, and prints the resulting warehouse as JSON for
the Scala golden test to diff against.

Usage: python3 scripts/ingestion_oracle.py <xlsx-dir> > expected.json
"""
import json
import re
import sys
import zipfile
from datetime import date, timedelta
from urllib.parse import urlparse

EPOCH = date(1899, 12, 30)


# ---------------------------------------------------------------- xlsx read

def load_sheet(z, sheet_name):
    """-> (headers, rows of dicts, hyperlinks-by-(rowidx, header))."""
    wbxml = z.read("xl/workbook.xml").decode()
    sheets = re.findall(r'<sheet name="([^"]*)"[^>]*r:id="(rId\d+)"', wbxml)
    rid = dict(sheets)[sheet_name]
    rels = dict(re.findall(r'<Relationship Id="([^"]*)"[^>]*Target="([^"]*)"',
                           z.read("xl/_rels/workbook.xml.rels").decode()))
    part = "xl/" + rels[rid]
    # a workbook that writes only inline strings has no shared-string part
    try:
        sst_xml = z.read("xl/sharedStrings.xml").decode()
    except KeyError:
        sst_xml = ""
    sst = [''.join(re.findall(r'<t[^>]*>(.*?)</t>', si, re.S))
           for si in re.findall(r'<si>(.*?)</si>', sst_xml, re.S)]
    sst = [unescape(s) for s in sst]
    styles = z.read("xl/styles.xml").decode()
    cellxfs = re.search(r'<cellXfs.*?</cellXfs>', styles, re.S).group(0)
    fmts = [int(re.search(r'numFmtId="(\d+)"', x).group(1)) if 'numFmtId' in x else 0
            for x in re.findall(r'<xf [^>]*/?>', cellxfs)]
    date_fmt_ids = {14, 15, 16, 17, 18, 19, 20, 21, 22, 45, 46, 47}
    # custom numFmts whose code is date-like (mirrors XlsxParser
    # .isDateFormatCode): y/m/d/h/s tokens outside []/"" and no '#'
    for fid, code in re.findall(r'<numFmt numFmtId="(\d+)" formatCode="([^"]*)"', styles):
        bare = re.sub(r'\[[^\]]*\]|"[^"]*"', '', code)
        if any(c in bare.lower() for c in 'ymdhs') and '#' not in bare:
            date_fmt_ids.add(int(fid))
    date_styles = {i for i, f in enumerate(fmts) if f in date_fmt_ids}

    xml = z.read(part).decode()
    relp = part.rsplit("/", 1)
    try:
        srels = dict(re.findall(r'<Relationship Id="([^"]*)"[^>]*Target="([^"]*)"',
                                z.read(relp[0] + "/_rels/" + relp[1] + ".rels").decode()))
    except KeyError:
        srels = {}
    links = {}  # "J2" -> url
    for ref, r_id in re.findall(r'<hyperlink ref="([A-Z]+\d+)"[^>]*r:id="([^"]*)"', xml):
        if r_id in srels:
            links[ref] = srels[r_id]

    rows = {}
    for rm in re.finditer(r'<row r="(\d+)"[^>]*>(.*?)</row>', xml, re.S):
        rn = int(rm.group(1))
        cells = {}
        for cm in re.finditer(
                r'<c r="([A-Z]+)(?:\d+)"(?: s="(\d+)")?(?: t="(\w+)")?(?: [^>]*)?(?:/>|>(.*?)</c>)',
                rm.group(2), re.S):
            colL, s, t, body = cm.groups()
            v = None
            if body:
                vm = re.search(r'<v[^>]*>(.*?)</v>', body, re.S)
                if vm is None:
                    vm = re.search(r'<is>.*?<t[^>]*>(.*?)</t>', body, re.S)
                if vm:
                    v = unescape(vm.group(1))
            if v is None:
                continue
            if t == "s":
                cells[colL] = sst[int(v)]
            elif t in ("str", "inlineStr"):
                cells[colL] = v
            elif t == "b":
                cells[colL] = v == "1"
            elif t == "e":
                cells[colL] = None
            else:
                num = float(v)
                if s is not None and int(s) in date_styles:
                    cells[colL] = EPOCH + timedelta(days=int(num))
                else:
                    cells[colL] = num
        rows[rn] = cells
    ordered = [rows[k] for k in sorted(rows)]
    headers = {}  # column letter -> header
    for colL, val in ordered[0].items():
        headers[colL] = str(val)
    data = []
    hlinks = {}
    for i, r in enumerate(ordered[1:]):
        d = {h: r.get(colL) for colL, h in headers.items()}
        data.append(d)
        for colL, h in headers.items():
            ref = colL + str(i + 2)
            if ref in links:
                hlinks[(i, h)] = links[ref]
    return list(headers.values()), data, hlinks


def unescape(s):
    # XML line-end normalization (the spec: \r\n and \r become \n) —
    # real XML parsers (the Spark side's StAX) do this implicitly
    s = s.replace("\r\n", "\n").replace("\r", "\n")
    return (s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", '"')
             .replace("&apos;", "'").replace("&amp;", "&"))


# ------------------------------------------------- reference URL semantics

def safe_float(v):
    if v is None or (isinstance(v, str) and v.strip().lower() in ("", "none", "nan")):
        return None
    try:
        return float(str(v).replace(",", "."))
    except ValueError:
        return None


def get_store_name(url):
    if url == "ML":
        return "mercadolibre"
    host = urlparse(url).hostname
    if not host:
        return None
    parts = [p for p in host.lower().split(".") if p not in ("www", "es", "articulo", "super")]
    return parts[0] if len(parts) >= 2 else None


BASE_ONLY = ["temu.com", "shein.com", "walmart.com.mx", "soriana.com",
             "costco.com.mx", "liverpool.com.mx", "sears.com.mx",
             "coppel.com", "elektra.com.mx"]
KEEP_PATH = ["ebay.", "mercado", "aliexpress", "amazon", "bestbuy",
             "target", "lowes", "officedepot"]


def get_provider_store(url):
    if not url:
        return None
    u = urlparse(url.strip())
    scheme, host, path = u.scheme, (u.hostname or "").lower(), u.path or ""
    if any(d in host for d in BASE_ONLY):
        return f"{scheme}://{host}"
    if any(d in host for d in KEEP_PATH):
        return f"{scheme}://{host}{path}"
    if "mercadolibre.com.mx" in host:
        return f"{scheme}://{re.sub(r'^articulo[.]', 'www.', host)}"
    if "amazon." in host:
        if "/dp/" in path or "/gp/product/" in path:
            path = re.sub(r"/ref.*$", "", path)
        return f"{scheme}://{host}{path}"
    return f"{scheme}://{host}{path}"


def get_domain_store(url):
    if url == "mercadolibre":
        return "www.mercadolibre.com.mx"
    m = re.search(r"https?://([^/]+)", url or "")
    if not m:
        return None
    host = m.group(1).lower()
    return re.sub(r"^articulo\.mercadolibre", "www.mercadolibre", host)


# -------------------------------------------------------------- simulation

def truthy(v):
    return v is not None and v != "" and v is not False and v != 0 or isinstance(v, date)


def main(xlsx_dir):
    import os
    stores = {}     # name -> (id, url)
    providers = {}  # (id_store, provider_url) -> id
    products = {}   # name -> id
    product_rows = {}
    purchases = []
    operations = []
    prices = {}     # id_product -> (price, offer)
    today = "BATCH_DATE"

    files = sorted(f for f in os.listdir(xlsx_dir) if f.endswith(".xlsx"))
    for fname in files:
        z = zipfile.ZipFile(os.path.join(xlsx_dir, fname))
        chdr, compras, _ = load_sheet(z, "Compras")
        phdr, precios, plinks = load_sheet(z, "Precios")
        # deep_clean: null sentinels; numbers already native
        for rows in (compras, precios):
            for r in rows:
                for k, v in list(r.items()):
                    if isinstance(v, str) and v in ("None", "none", "NONE"):
                        r[k] = None
        # Picture_URL positional zip from Precios!Preview hyperlinks
        link_list = [plinks.get((i, "Preview"), "") for i in range(len(precios))]
        for i, r in enumerate(compras):
            r["Picture_URL"] = link_list[i] if i < len(link_list) else None
        # J1 merge brand/category by Descripción (first match)
        by_desc = {}
        for pr in precios:
            by_desc.setdefault(pr["Descripción"], pr)
        previous_link = ""
        for row in compras:
            str_link = row.get("Liga")
            if not str_link:
                str_link = previous_link
            previous_link = row.get("Liga")
            # store
            if str_link is None:
                continue
            sname = get_store_name(str_link)
            if sname is None or sname == "none":
                continue
            if sname not in stores:
                stores[sname] = (len(stores) + 1, get_domain_store(str_link))
            id_store = stores[sname][0]
            # provider
            purl = get_provider_store(str_link)
            if (id_store, purl) not in providers:
                providers[(id_store, purl)] = len(providers) + 1
            id_provider = providers[(id_store, purl)]
            # filters
            delivery = row.get("Fch Entrga")
            if delivery is not None and "CANCELED" in str(delivery):
                continue
            pname = row.get("Descripción")
            if not pname:
                continue
            quantity = row.get("Cant")
            unit_price = row.get("C. Unit")
            pdate = row.get("Fch Cmpr")
            # product + dedup gate
            if pname in products:
                id_product = products[pname]
                if any(o["id_product"] == id_product and o["quantity"] == int(quantity)
                       and o["unit_price"] == unit_price and o["purchase_date"] == str(pdate)
                       for o in operations):
                    continue
            else:
                enr = by_desc.get(pname, {})
                brand, cat = enr.get("Marca"), enr.get("Categoria")
                id_product = len(products) + 1
                products[pname] = id_product
                product_rows[pname] = {
                    "id_product": id_product, "product_name": pname,
                    "image_url": row.get("Picture_URL"),
                    "brand": brand if (brand and cat) else None,
                    "category": cat if (brand and cat) else None}
            id_purchase = len(purchases) + 1
            purchases.append({
                "id_purchase": id_purchase, "id_provider": id_provider,
                "id_payment_type": 1,
                "total": row.get("Total Cmpr"),
                "purchase_date": str(pdate),
                "delivery_date": str(delivery) if delivery is not None else None,
                "exchange_rate": row.get("Dólar"),
                "shipping_cost": row.get("Envio") if row.get("Envio") is not None else 0,
                "discount": row.get("Desct") if row.get("Desct") is not None else 0})
            operations.append({
                "id_purchase": id_purchase, "id_product": id_product,
                "quantity": int(quantity), "unit_price": unit_price,
                "unit_price_usd": row.get("C. Unit US"),
                "discount_percentage": row.get("% Desc") if row.get("% Desc") is not None else 0,
                "pieces_per_unit": int(row.get("Pzs")) if row.get("Pzs") is not None else 1,
                "final_cost": row.get("Costo Final"),
                "purchase_date": str(pdate),
                "product_url": str(row.get("Liga") if row.get("Liga") is not None else "")[:500]})
            # price
            if pname in by_desc:
                prow = by_desc[pname]
                price = prow.get("P. Venta")
                if not price:
                    price = float(row.get("Costo Final")) * 1.30
                offer = prow.get("P. Oferta")
                if not offer:
                    offer = price * 0.85
                prices[id_product] = {"id_product": id_product, "price": price,
                                      "offer_price": offer, "start_date": today}
    out = {
        "store": [{"id_store": i, "store_name": n, "store_url": u}
                  for n, (i, u) in stores.items()],
        "provider": [{"id_provider": i, "id_store": s, "provider_url": u}
                     for (s, u), i in providers.items()],
        "product": sorted(product_rows.values(), key=lambda r: r["id_product"]),
        "purchase": purchases,
        "operation": operations,
        "price": sorted(prices.values(), key=lambda r: r["id_product"]),
    }
    if len(sys.argv) > 2:  # write per-table JSONL for spark.read.json
        import os
        os.makedirs(sys.argv[2], exist_ok=True)
        for name, rows in out.items():
            with open(os.path.join(sys.argv[2], name + ".jsonl"), "w") as f:
                for r in rows:
                    f.write(json.dumps(r, default=str) + "\n")
    else:
        json.dump(out, sys.stdout, indent=1, default=str)


if __name__ == "__main__":
    main(sys.argv[1])
