"""Seeded input generators for the benchmark.

Everything the program sees is made here from one integer seed, so a
seed names one set of inputs:

* the star schema the search index is built from (region, nation,
  customer, part, orders, lineitem, events), in the shapes and value
  ranges of the harness tables described in TESTDATA.md / FIXTURES.md;
* the documents corpus the corpus queries read, with planted near
  duplicates and contained fragments so the dedup queries find pairs;
* raw crawl payloads for the four listing sites (divar, sheypoor and
  mrestate JSON, kilid HTML) in the shapes of ``tests/test_ingest.py``;
* the hourly change batches applied to the search-index sources.

Tables are written with pyarrow, not Spark, so input generation costs
the same whatever the program does.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SITES = ("divar", "sheypoor", "mrestate", "kilid")

# ---- star schema --------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "red", "small", "large", "new", "old"]
_PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
_PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_EPOCH_ORDERS = np.datetime64("1995-01-01")
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_EPOCH_EVENTS = np.datetime64("2024-01-01T00:00:00", "us")
_EVENT_SPAN_US = 30 * 86400 * 1_000_000


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def star_tables(seed: int, n_orders: int) -> dict[str, pd.DataFrame]:
    """The seven search-index source tables at ``n_orders`` facts
    (150 000 is the harness sf0.1). Keys are unique, so every table is
    addressable by the indexer's CDC keys."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(n_orders // 10, 10)
    n_part = max(n_orders * 2 // 15, 10)
    n_supp = max(n_orders // 150, 5)
    n_users = max(n_cust // 10, 5)
    n_events = n_orders * 2 // 3

    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part)
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 65, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(["O", "P", "F"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
            "o_orderdate": _EPOCH_ORDERS
            + rng.integers(0, _ORDER_DAYS, n_orders).astype("timedelta64[D]"),
            "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
        }
    )
    orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")
    lines = rng.integers(1, 8, n_orders)
    l_orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(len(l_orderkey)) - starts + 1).astype(np.int32)
    lineitem = _lines(rng, l_orderkey, l_linenumber, n_part, n_supp)
    events = _events(rng, np.arange(n_events, dtype=np.int64), n_users)
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def _lines(rng, l_orderkey, l_linenumber, n_part, n_supp) -> pd.DataFrame:
    n = len(l_orderkey)
    flags = rng.integers(0, 6, n)
    df = pd.DataFrame(
        {
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
            "l_linenumber": l_linenumber,
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
            "l_linestatus": np.array(["O", "F"])[flags % 2],
            "l_shipdate": _EPOCH_ORDERS
            + rng.integers(1, _ORDER_DAYS + 95, n).astype("timedelta64[D]"),
        }
    )
    df["l_shipdate"] = df["l_shipdate"].astype("datetime64[us]")
    return df


def _events(rng, event_ids, n_users) -> pd.DataFrame:
    n = len(event_ids)
    df = pd.DataFrame(
        {
            "event_id": event_ids,
            "ts": _EPOCH_EVENTS
            + rng.integers(0, _EVENT_SPAN_US, n).astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n),
            "value": np.round(rng.uniform(0.0, 500.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    return df.sort_values("ts", kind="stable").reset_index(drop=True)


def write_tables(tables: dict[str, pd.DataFrame], sf_dir: str) -> None:
    """Write tables as ``<sf_dir>/<name>.parquet``, the layout
    ``catalog.read_table`` reads."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, df in tables.items():
        _write(df, os.path.join(sf_dir, f"{name}.parquet"))


@dataclass
class ChangeBatch:
    """One hour of source edits. Frames are pandas, in the source
    tables' schemas; ``lineitem_deletes`` holds CDC keys only."""

    orders_updates: pd.DataFrame
    lineitem_inserts: pd.DataFrame
    lineitem_deletes: pd.DataFrame
    events_inserts: pd.DataFrame


class ChangeStream:
    """Hourly change batches over a star schema: price and status edits
    on ``order_share`` of the orders, lineitem inserts and deletes on
    as many orders, and new events. Keeps its own copy of the current
    keys so every batch applies cleanly to the previous one."""

    def __init__(self, seed: int, tables: dict[str, pd.DataFrame], order_share: float):
        self.rng = np.random.default_rng([seed, 2])
        self.orders = tables["orders"].copy()
        li = tables["lineitem"]
        self.n_lines = li.groupby("l_orderkey")["l_linenumber"].max().to_dict()
        self.n_part = len(tables["part"])
        self.n_supp = int(li["l_suppkey"].max()) + 1
        self.n_users = int(tables["events"]["user_id"].max()) + 1
        self.next_event = int(tables["events"]["event_id"].max()) + 1
        self.n_changed = max(1, int(len(self.orders) * order_share))

    def next_batch(self) -> ChangeBatch:
        rng = self.rng
        n = self.n_changed
        idx = rng.choice(len(self.orders), n, replace=False)
        upd = self.orders.iloc[idx].copy()
        price = rng.random(n) < 0.5
        upd.loc[price, "o_totalprice"] = np.round(
            upd.loc[price, "o_totalprice"] * rng.uniform(0.9, 1.1, price.sum()), 2
        )
        upd.loc[~price, "o_orderstatus"] = rng.choice(["O", "P", "F"], (~price).sum())
        self.orders.iloc[idx] = upd.values

        n_li = max(1, n // 2)
        ins_orders = rng.choice(len(self.orders), n_li, replace=False).astype(np.int64)
        ins_lines = np.array(
            [self.n_lines.get(o, 0) + 1 for o in ins_orders], dtype=np.int32
        )
        for o, ln in zip(ins_orders, ins_lines):
            self.n_lines[int(o)] = int(ln)
        inserts = _lines(rng, ins_orders, ins_lines, self.n_part, self.n_supp)
        # delete the last line of orders that keep at least one line
        cand = [o for o in rng.choice(len(self.orders), n_li * 2, replace=False)
                if self.n_lines.get(int(o), 0) > 1][:n_li]
        del_keys = pd.DataFrame(
            {
                "l_orderkey": np.array(cand, dtype=np.int64),
                "l_linenumber": np.array(
                    [self.n_lines[int(o)] for o in cand], dtype=np.int32
                ),
            }
        )
        for o in cand:
            self.n_lines[int(o)] -= 1

        n_ev = max(1, n)
        ev = _events(
            rng, np.arange(self.next_event, self.next_event + n_ev, dtype=np.int64),
            self.n_users,
        )
        self.next_event += n_ev
        return ChangeBatch(upd.reset_index(drop=True), inserts, del_keys, ev)


# ---- documents corpus ---------------------------------------------------

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def documents(seed: int, n_docs: int, n_sources: int = 20) -> pd.DataFrame:
    """The documents table: random-vocabulary texts of 10-100 tokens,
    with about 5% near copies (a few tokens replaced, so MinHash finds
    them) and 5% contained fragments (a contiguous slice of an earlier
    document, so containment finds them)."""
    rng = np.random.default_rng([seed, 3])
    texts: list[str] = []
    for i in range(n_docs):
        kind = rng.random()
        if i > 10 and kind < 0.05:
            src = texts[rng.integers(0, i)].split(" ")
            for j in rng.choice(len(src), max(1, len(src) // 40), replace=False):
                src[j] = "dup"
            texts.append(" ".join(src))
        elif i > 10 and kind < 0.10:
            src = texts[rng.integers(0, i)].split(" ")
            k = max(4, int(len(src) * rng.uniform(0.4, 0.7)))
            lo = int(rng.integers(0, len(src) - k + 1))
            texts.append(" ".join(src[lo:lo + k]))
        else:
            n_tok = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_VOCAB, n_tok)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % n_sources}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


# ---- listing-site payloads ----------------------------------------------

PAYLOAD_DDL = {
    "divar": """
content_url string,
data struct<
  analytics: struct<cat2:string, cat3:string, city:string>,
  webengage: struct<district:string, business_type:string, credit:double, rent:double>,
  seo: struct<post_seo_schema: struct<description:string, image:array<string>,
    geo: struct<latitude:double, longitude:double>>>,
  share: struct<title:string>,
  city: struct<second_slug:string>,
  sections: array<struct<section_name:string, widgets: array<struct<
    widget_type:string,
    data: struct<title:string, value:string, subtitle:string,
      location: struct<fuzzy_data: struct<point: struct<latitude:double, longitude:double>,
        radius:double>, exact_data: struct<latitude:double, longitude:double>>>>>>>
>""",
    "sheypoor": """
content_url string,
data struct<
  attributes: struct<title:string, location:string, timePassedLabel:string,
    categories: array<struct<name:string>>,
    price: array<struct<label:string, amount:string>>,
    images: struct<thumbnails: struct<round:string>>>,
  fullAttributes: array<struct<key:string, value:string>>,
  geo: struct<lat:double, lon:double>,
  description: string
>""",
    "mrestate": """
content_url string,
data struct<pageProps: struct<data: struct<
  breadcrumb: array<struct<name:string>>,
  data: struct<city:string, neighbourhood:string, date_publish:string,
    is_owner:boolean, creator_properties: struct<real_estate:string, consultant:string>,
    more_description:string, title:string, price_rent:bigint, price_sell:bigint,
    price_mortgage:bigint, area:double, num_bedrooms:int, year_constructed:int,
    latitude:double, longitude:double,
    more_details: struct<floor:int, balcony:boolean, elevator:boolean,
      storeHouse:boolean, parking:int, security:boolean, pool:boolean,
      jacuzzi:boolean, sauna:boolean>,
    list_image: array<struct<url:string>>>>>>""",
    "kilid": (
        "content_url string, html_content string, listingType string, "
        "propertyType string, landuseType string"
    ),
}

_FA_DIGITS = str.maketrans("0123456789", "۰۱۲۳۴۵۶۷۸۹")
_CITIES = ["tehran", "karaj", "mashhad", "shiraz", "isfahan", "tabriz"]
_DISTRICTS = ["vanak", "tajrish", "saadat-abad", "punak", "narmak", "gisha"]
_FA_CITIES = ["تهران", "کرج", "مشهد", "شیراز", "اصفهان", "تبریز"]
_FA_DISTRICTS = ["ونک", "تجریش", "سعادت آباد", "پونک", "نارمک", "گیشا"]
_AGO = ["۲ روز پیش", "۱ هفته پیش", "۳ ساعت پیش", "لحظاتی پیش", "دقایقی پیش", "۱ ماه پیش"]


def _fa(n: int) -> str:
    return f"{n:,}".replace(",", "٬").translate(_FA_DIGITS)


def site_url(site: str, seed: int, key: int) -> str:
    path = {"divar": "v", "sheypoor": "v", "mrestate": "p", "kilid": "l"}[site]
    return f"https://{site}.example/{path}/{seed:x}-{key:08x}"


def payload(site: str, url: str, rng: np.random.Generator) -> dict:
    """One raw fetch result for ``url`` with seeded field values."""
    area = int(rng.integers(40, 400))
    rooms = int(rng.integers(0, 6))
    floor = int(rng.integers(0, 12))
    city = int(rng.integers(0, len(_CITIES)))
    district = int(rng.integers(0, len(_DISTRICTS)))
    price = int(rng.integers(5, 900)) * 100_000_000
    lat, lon = float(rng.uniform(35.5, 35.9)), float(rng.uniform(51.2, 51.6))
    ago = _AGO[int(rng.integers(0, len(_AGO)))]
    if site == "divar":
        rows = [
            ("متراژ", _fa(area)),
            ("اتاق", _fa(rooms)),
            ("قیمت کل", f"{_fa(price)} تومان"),
            ("طبقه", f"{_fa(floor)} از {_fa(floor + int(rng.integers(0, 6)))}"),
        ]
        imgs = [f"https://img/{url[-8:]}/{j}.jpg" for j in rng.integers(0, 4, 4)]
        data = {
            "analytics": {"cat2": "residential-sell", "cat3": "apartment-sell",
                          "city": _CITIES[city]},
            "webengage": {"district": _DISTRICTS[district],
                          "business_type": ["personal", "premium-panel"][rooms % 2],
                          "credit": None, "rent": None},
            "seo": {"post_seo_schema": {"description": f"apartment {area} m2",
                                        "image": imgs,
                                        "geo": {"latitude": lat, "longitude": lon}}},
            "share": {"title": f"آپارتمان {_fa(area)} متری"},
            "city": {"second_slug": None},
            "sections": [
                {"section_name": "TITLE", "widgets": [
                    {"widget_type": "LEGEND_TITLE_ROW",
                     "data": {"title": None, "value": None,
                              "subtitle": f"{ago} در {_FA_CITIES[city]}",
                              "location": None}}]},
                {"section_name": "LIST_DATA", "widgets": [
                    {"widget_type": "UNEXPANDABLE_ROW",
                     "data": {"title": t, "value": v, "subtitle": None, "location": None}}
                    for t, v in rows]},
            ],
        }
        return {"content_url": url, "data": data}
    if site == "sheypoor":
        rent = int(rng.integers(5, 90)) * 1_000_000
        data = {
            "attributes": {
                "title": "رهن و اجاره آپارتمان",
                "location": f"{_FA_CITIES[city]}، {_FA_DISTRICTS[district]}",
                "timePassedLabel": ["ساعاتی پیش", "لحظاتی پیش", "۳ روز پیش"][rooms % 3],
                "categories": [{"name": "املاک"}, {"name": "اجاره مسکونی"}],
                "price": [{"label": "ودیعه", "amount": _fa(price)},
                          {"label": "اجاره ماهیانه", "amount": _fa(rent)}],
                "images": {"thumbnails": {"round": f"https://img/{url[-8:]}.jpg"}},
            },
            "fullAttributes": [{"key": "متراژ", "value": _fa(area)},
                               {"key": "تعداد اتاق", "value": _fa(rooms)}],
            "geo": {"lat": lat, "lon": lon},
            "description": f"desc {area}",
        }
        return {"content_url": url, "data": data}
    if site == "mrestate":
        sell = bool(rooms % 2)
        data = {"pageProps": {"data": {
            "breadcrumb": [{"name": "خانه"}, {"name": _FA_CITIES[city]},
                           {"name": "آپارتمان"}],
            "data": {
                "city": _CITIES[city].title(), "neighbourhood": _DISTRICTS[district],
                "date_publish": ago, "is_owner": sell,
                "creator_properties": {"real_estate": None, "consultant": None},
                "more_description": f"desc {area}", "title": f"apt {area}",
                "price_rent": 0 if sell else price // 100,
                "price_sell": price if sell else 0,
                "price_mortgage": 0 if sell else price // 10,
                "area": float(area), "num_bedrooms": rooms,
                "year_constructed": int(rng.integers(1370, 1403)),
                "latitude": lat, "longitude": lon,
                "more_details": {
                    "floor": floor, "balcony": bool(rng.random() < 0.5),
                    "elevator": bool(rng.random() < 0.5),
                    "storeHouse": bool(rng.random() < 0.5),
                    "parking": int(rng.integers(0, 3)),
                    "security": bool(rng.random() < 0.3), "pool": False,
                    "jacuzzi": False, "sauna": False,
                },
                "list_image": [{"url": f"/media/{url[-8:]}.jpg"},
                               {"url": "https://cdn/b.jpg"}],
            },
        }}}
        return {"content_url": url, "data": data}
    listing = ["BUY", "RENT"][rooms % 2]
    label, amount = (
        ("قیمت کل", f"{_fa(price // 1_000_000_000 or 1)} میلیارد تومان")
        if listing == "BUY"
        else ("اجاره", f"{_fa(price // 100_000_000)} میلیون تومان")
    )
    html = (
        "<html><body><nav>"
        '<a class="breadcrumb" href="/">خانه</a>'
        f'<a class="breadcrumb" href="/b">{"خرید" if listing == "BUY" else "اجاره"}</a>'
        f'<a class="breadcrumb" href="/c">{_FA_CITIES[city]}</a>'
        '<a class="breadcrumb" href="/t">آپارتمان</a>'
        f'<a class="breadcrumb" href="/d">{_FA_DISTRICTS[district]}</a>'
        f'</nav><h1 class="title">آپارتمان {_fa(area)} متری</h1>'
        f'<div><span class="price-label">{label}</span>'
        f'<span class="price-value">{amount}</span></div>'
        "<div>سند: تک‌برگ</div>"
        f'<span class="publish-date">{ago}</span>'
        f'<div class="area">{_fa(area)} متر</div>'
        f'<div class="rooms">{_fa(rooms)}</div>'
        '<p class="description">توضیحات ملک</p></body></html>'
    )
    return {"content_url": url, "html_content": html, "listingType": listing,
            "propertyType": "APARTMENT", "landuseType": "RESIDENTIAL"}


class CrawlStream:
    """Seeded crawl batches, one site at a time. A batch offers
    ``per_site`` candidate URLs of which ``revisit_share`` were offered
    before, and redelivers ``redelivery_share`` as many earlier URLs to
    the fetcher (at-least-once delivery). ``issued`` starts with
    ``backfill`` URLs per site, the ones an earlier crawl left behind."""

    def __init__(self, seed: int, per_site: int, backfill: int,
                 revisit_share: float = 0.4, redelivery_share: float = 0.05):
        self.seed, self.per_site = seed, per_site
        self.revisit_share, self.redelivery_share = revisit_share, redelivery_share
        self.rng = np.random.default_rng([seed, 4])
        self.next_key = 0
        self.issued = {s: self._new(s, backfill) for s in SITES}

    def _new(self, site: str, n: int) -> list[str]:
        urls = [site_url(site, self.seed, k) for k in range(self.next_key, self.next_key + n)]
        self.next_key += n
        return urls

    def _sample(self, urls: list[str], n: int) -> list[str]:
        return [urls[i] for i in self.rng.choice(len(urls), min(n, len(urls)), replace=False)]

    def next_batch(self, site: str) -> tuple[list[str], list[str]]:
        """(candidate URLs, redelivered URLs) of one batch for ``site``."""
        issued = self.issued[site]
        old = self._sample(issued, round(self.per_site * self.revisit_share))
        new = self._new(site, self.per_site - len(old))
        redelivered = self._sample(issued, round(len(new) * self.redelivery_share))
        candidates = old + new
        self.rng.shuffle(candidates)
        issued.extend(new)
        return candidates, redelivered


def write_seen(urls: dict[str, list[str]], path: str) -> None:
    """The seen-set rows ``(site, content_url)`` for ``urls`` by site."""
    rows = [(s, u) for s in urls for u in urls[s]]
    _write(pd.DataFrame(rows, columns=["site", "content_url"]), path)


def land_payloads(site: str, urls: list[str], path: str, rng, arrow_schema) -> None:
    """Write the fetch results for ``urls`` as one parquet file, the
    landing file the site's stream picks up."""
    rows = [payload(site, u, rng) for u in urls]
    pq.write_table(pa.Table.from_pylist(rows, schema=arrow_schema), path)

