"""Seeded input generator for the graft benchmark.

Every input is a pure function of (workload, seed, size): the same seed
gives byte-identical files, another seed gives different files of the
same shape.  Two input families are written:

* TESTDATA-shaped tables (region .. events, documents, embeddings) as
  parquet, with the column names, types and value domains of the
  TESTDATA.md tables, for analyst_queries;
* reference-shaped raw payloads for the 17 platform sources (the layout
  of src/test/resources/bronze), full-market sized, for platform_backfill.

The output directory holds ``manifest.json`` (seed, sizes, row counts and
bytes per input), written last, so a directory with a manifest is a
complete cache entry.
"""
import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are part of the benchmark definition: changing one changes every
# metric, so each is stated here and recorded in the manifest.
SIZES = {
    "analyst_queries": {
        "customer": 750, "supplier": 50, "part": 1000, "orders": 7500,
        "lines_per_order": 4, "events": 5000, "users": 100,
        "documents": 300, "embeddings": 300,
        "near_dup_share": 0.05, "contaminated_share": 0.03},
    "platform_backfill": {
        "days": 4, "kr_etf": 900, "krx_codes": 2700, "kr_stock": 2700,
        "coin": 400, "index": 40, "bonds": 60, "bonds_meta": 60,
        "bonds_html": 12, "gics": 160, "fx_pairs": 60, "msci": 12,
        "bok_rows": 240, "news": 300, "etf_old": 900},
}

WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 44 + ["de"] * 14 + ["es"] * 15 + ["fr"] * 13 + ["zh"] * 14
# the benchmark side of decontamination is every 50th document (the
# registered text_decontaminate query's fixture convention)
BENCH_EVERY = 50


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def _ts(start, micros):
    return np.datetime64(start, "us") + np.asarray(micros, dtype=np.int64).astype("timedelta64[us]")


def _write(table, path):
    pq.write_table(table, path, compression="zstd")
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def tables(seed, size, out):
    """Write the TESTDATA-shaped parquet tables; return per-table stats."""
    os.makedirs(out, exist_ok=True)
    stats = {}
    s = size
    stats["region"] = _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}), f"{out}/region.parquet")
    stats["nation"] = _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")

    r = _rng(seed, 1)
    n = s["customer"]
    stats["customer"] = _write(pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": r.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n)]}),
        f"{out}/customer.parquet")

    r = _rng(seed, 2)
    n = s["supplier"]
    stats["supplier"] = _write(pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": r.integers(0, 25, n).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2)}),
        f"{out}/supplier.parquet")

    r = _rng(seed, 3)
    n = s["part"]
    keys = np.arange(n, dtype=np.int64)
    stats["part"] = _write(pa.table({
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n), r.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": np.array(PTYPES)[r.integers(0, 6, n)],
        "p_size": r.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")

    r = _rng(seed, 4)
    n = s["orders"]
    days = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    stats["orders"] = _write(pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": r.integers(0, s["customer"], n),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _ts("1995-01-01", r.integers(0, days + 1, n) * 86400 * 10**6),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n)]}),
        f"{out}/orders.parquet")

    r = _rng(seed, 5)
    per = r.integers(1, 2 * s["lines_per_order"], n)
    okey = np.repeat(np.arange(n, dtype=np.int64), per)
    m = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    qty = r.integers(1, 51, m).astype(np.float64)
    ship_days = (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days
    stats["lineitem"] = _write(pa.table({
        "l_orderkey": okey,
        "l_partkey": r.integers(0, s["part"], m),
        "l_suppkey": r.integers(0, s["supplier"], m),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, m), 2),
        "l_discount": r.integers(0, 11, m) / 100.0,
        "l_tax": r.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, m)],
        "l_shipdate": _ts("1995-01-02", r.integers(0, ship_days + 1, m) * 86400 * 10**6)}),
        f"{out}/lineitem.parquet")

    r = _rng(seed, 6)
    n = s["events"]
    micros = np.sort(r.integers(0, 30 * 86400 * 10**6, n))
    stats["events"] = _write(pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts("2024-01-01", micros),
        "user_id": r.integers(0, s["users"], n),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]}),
        f"{out}/events.parquet")

    stats["documents"] = _write(documents(seed, s), f"{out}/documents.parquet")
    stats["embeddings"] = _write(embeddings(seed, s), f"{out}/embeddings.parquet")
    return stats


def documents(seed, s):
    """Random texts over the 31-word TESTDATA vocabulary, 10..100 tokens.

    ``near_dup_share`` of the documents are copies of an earlier original
    document with at most one token replaced, so the 2-gram Jaccard of a
    copy and its original stays >= 0.9 and every cluster is a star of
    diameter 2 (the DuckDB connected-components twin iterates 8 times).
    ``contaminated_share`` of the documents carry a 12-token span copied
    from a benchmark document (doc_id % 50 == 0)."""
    r = _rng(seed, 7)
    n = s["documents"]
    toks = [list(np.array(WORDS)[r.integers(0, len(WORDS), k)])
            for k in r.integers(10, 101, n)]
    is_bench = np.arange(n) % BENCH_EVERY == 0
    n_dup = int(round(n * s["near_dup_share"]))
    n_con = int(round(n * s["contaminated_share"]))
    order = r.permutation(np.arange(n // 2, n)[~is_bench[n // 2:]])
    dups, cons = order[:n_dup], order[n_dup:n_dup + n_con]
    originals = r.permutation(np.arange(n // 2)[~is_bench[:n // 2]])
    for i, d in enumerate(dups):
        src = list(toks[originals[i % len(originals)]])
        if len(src) >= 40:
            src[int(r.integers(0, len(src)))] = WORDS[int(r.integers(0, len(WORDS)))]
        toks[d] = src
    bench_ids = np.flatnonzero(is_bench)
    for d in cons:
        b = toks[bench_ids[int(r.integers(0, len(bench_ids)))]]
        start = int(r.integers(0, max(1, len(b) - 12)))
        span = b[start:start + 12]
        at = int(r.integers(0, len(toks[d]) + 1))
        toks[d] = toks[d][:at] + span + toks[d][at:]
    text = [" ".join(t) for t in toks]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})


def embeddings(seed, s):
    """Unit-norm 64-d float vectors (TESTDATA shape); ``near_dup_share``
    of them are small perturbations of an earlier vector (cosine ~0.95),
    the near-duplicates SemDedup exists to find."""
    r = _rng(seed, 8)
    n = s["embeddings"]
    x = r.standard_normal((n, 64))
    n_dup = int(round(n * s["near_dup_share"]))
    dups = r.choice(np.arange(n // 2, n), n_dup, replace=False)
    srcs = r.integers(8, n // 2, n_dup)
    x[dups] = x[srcs] + 0.3 * r.standard_normal((n_dup, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n).astype(np.int32)})


# ---------------------------------------------------------------- platform

HOLIDAYS_2025 = ["2025-01-01", "2025-01-28", "2025-01-29", "2025-01-30",
                 "2025-03-03", "2025-05-05", "2025-05-06", "2025-06-06",
                 "2025-08-15", "2025-10-03", "2025-10-06", "2025-10-07",
                 "2025-10-08", "2025-10-09", "2025-12-25", "2025-12-31"]
# trading days of the generated range (after the Seollal holidays, so the
# C1 market-open decision passes for every day and the previous day)
PLATFORM_DAYS = ["2025-02-04", "2025-02-05", "2025-02-06", "2025-02-07",
                 "2025-02-10", "2025-02-11", "2025-02-12", "2025-02-13"]
NEWS_MONTH = "2025-02-01"
# the deprecated ETF backfill: 2019-12-26 lands an empty `output` (the
# designed red path), 2020-01-02 lies past the DAG's end date
BACKFILL_REQUEST = ["2019-12-23", "2019-12-24", "2019-12-26", "2019-12-27",
                    "2019-12-30", "2020-01-02"]
RED_DAY = "2019-12-26"


def _dump(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    return len(text.encode("utf-8"))


def _codes(r, n):
    return [f"{c:06d}" for c in r.choice(np.arange(1, 999999), n, replace=False)]


def payloads(seed, s, out):
    """Write one trading-day range of raw payloads for every source in the
    fixture layout PlatformDay.dailyConnectors reads; return stats."""
    r = _rng(seed, 20)
    stats = {}

    def add(src, nbytes, rows):
        st = stats.setdefault(src, {"files": 0, "bytes": 0, "rows": 0})
        st["files"] += 1
        st["bytes"] += nbytes
        st["rows"] += rows

    etf = _codes(r, s["kr_etf"])
    stocks = _codes(r, s["krx_codes"])
    coins = [f"C{i:03d}USDT" for i in range(s["coin"])]
    indices = [f"IDX {i}" for i in range(s["index"])]
    bonds = [f"KR_govt_{2000 + i % 20}-{2030 + i % 20}" for i in range(s["bonds"])]
    pairs = [f"P{i:02d}KRW=X" for i in range(s["fx_pairs"])]
    base_px = {c: float(r.uniform(1000, 90000)) for c in etf + stocks}
    days = PLATFORM_DAYS[:s["days"]]

    for di, d in enumerate(days):
        prev = PLATFORM_DAYS[di - 1] if di else "2025-02-03"
        ymd = prev.replace("-", "")
        # S1 kr_etf: paginated items, 500 per page
        items = [{"basDt": ymd, "srtnCd": c, "isinCd": f"KR7{c}00{k % 10}",
                  "itmsNm": f"ETF {c}", "clpr": str(int(base_px[c] * (1 + 0.01 * di))),
                  "vs": str(int(r.integers(-500, 500))),
                  "fltRt": f"{r.uniform(-3, 3):.2f}", "mkp": str(int(base_px[c])),
                  "hipr": str(int(base_px[c] * 1.02)), "lopr": str(int(base_px[c] * 0.98)),
                  "trqu": str(int(r.integers(1, 10**7))), "trPrc": str(int(r.integers(1, 10**11))),
                  "mrktTotAmt": str(int(r.integers(10**9, 10**13))),
                  "nav": f"{base_px[c]:.2f}"} for k, c in enumerate(etf)]
        for p in range(0, len(items), 500):
            add("kr_etf", _dump(f"{out}/kr_etf/ymd={d}/page_{p // 500 + 1}.json",
                                json.dumps({"items": items[p:p + 500]}, ensure_ascii=False)),
                len(items[p:p + 500]))
        # S9 krx_codes (issue_date carried, FIXTURES.md A2)
        recs = [{"item_code": c, "item_name": f"종목{c}",
                 "industry_code": f"{int(c) % 150:03d}",
                 "market": "kospi" if int(c) % 3 else "kosdaq", "issue_date": d}
                for c in stocks]
        add("krx_codes", _dump(f"{out}/krx_codes/ymd={d}/krx_codes_{d}.json",
                               json.dumps(recs, ensure_ascii=False)), len(recs))
        # S5 coin klines CSV
        t0 = int(dt.datetime.fromisoformat(prev).replace(
            tzinfo=dt.timezone.utc).timestamp() * 1000)
        lines = ["Open_time,Open,High,Low,Close,Volume,Close_time,Quote_asset_volume,"
                 "Number_of_trades,Taker_buy_base_asset_volume,"
                 "Taker_buy_quote_asset_volume,Ignore,Symbol,Name"]
        for c in coins:
            o = r.uniform(0.01, 90000)
            lines.append(f"{t0},{o:.2f},{o * 1.02:.2f},{o * 0.98:.2f},{o * 1.01:.2f},"
                         f"{r.uniform(1, 1e5):.3f},{t0 + 86399999},{r.uniform(1, 1e9):.2f},"
                         f"{int(r.integers(1, 10**6))},{r.uniform(1, 1e4):.3f},"
                         f"{r.uniform(1, 1e8):.2f},0,{c},Coin {c}")
        add("coin_data", _dump(f"{out}/coin_data/ymd={d}/{d}_coin_data.csv",
                               "\n".join(lines) + "\n"), len(coins))
        # S2/S19 yfinance long CSV (one ticker with an all-null Close)
        lines = ["Date,Ticker,Adj Close,Close,High,Low,Open,Volume"]
        for k, c in enumerate(stocks):
            if k == 0:
                lines.append(f"{prev},{c}.KS,,,,,,0")
                continue
            px = base_px[c] * (1 + r.normal(0, 0.02))
            lines.append(f"{prev},{c}.KS,{px:.1f},{px:.1f},{px * 1.01:.1f},"
                         f"{px * 0.99:.1f},{base_px[c]:.1f},{int(r.integers(0, 10**7))}")
        add("kr_stock", _dump(f"{out}/kr_stock/ymd={d}/data.csv",
                              "\n".join(lines) + "\n"), len(stocks))
        # S4 BOK stats: list of row batches of 100
        rows = [{"STAT_CODE": "902Y006", "STAT_NAME": "국제수지",
                 "ITEM_CODE1": f"SA{i:03d}", "ITEM_NAME1": f"항목{i}",
                 "UNIT_NAME": "백만달러", "TIME": ymd[:6],
                 "DATA_VALUE": f"{r.normal(0, 5000):.1f}"} for i in range(s["bok_rows"])]
        add("economic_indicators", _dump(
            f"{out}/economic_indicators/ymd={d}/data.json",
            json.dumps([rows[i:i + 100] for i in range(0, len(rows), 100)],
                       ensure_ascii=False)), len(rows))
        # S6 index data
        recs = [{"direction_color": "greenFont", "rowDate": prev,
                 "rowDateRaw": t0 // 1000, "last_close": f"{r.uniform(100, 40000):.2f}",
                 "last_open": f"{r.uniform(100, 40000):.2f}",
                 "last_max": f"{r.uniform(100, 40000):.2f}",
                 "last_min": f"{r.uniform(100, 40000):.2f}", "volume": "2.31B",
                 "change_precent": f"{r.uniform(-3, 3):.2f}", "index_name": i}
                for i in indices]
        add("index_data", _dump(f"{out}/index_data/ymd={d}/{d}_index_data.json",
                                json.dumps(recs)), len(recs))
        # S7 govt bonds (every 10th bond a zero-filled record)
        recs = []
        for k, b in enumerate(bonds):
            v = 0.0 if k % 10 == 0 else float(r.uniform(1, 5))
            recs.append({"Close": round(v, 3), "Open": round(v, 3), "High": round(v, 3),
                         "Low": round(v, 3), "Volume": 0.0, "Estimate": 0.0,
                         "Date": f"{prev}T00:00:00.000", "bond_key": b,
                         "matures_in": int(b[-4:]) - int(b[-9:-5])})
        add("govt_bonds_kr", _dump(
            f"{out}/govt_bonds_kr/ymd={d}/govt_bonds_kr_{d}.json", json.dumps(recs)),
            len(recs))
        # S8 bonds meta (json maps) + raw HTML pages
        recs = [{"isin": f"KR{k:010d}", "issuer": f"Issuer {k % 7}",
                 "coupon": f"{r.uniform(1, 6):.3f}", "maturity_date": "2034-03-10",
                 "currency": "KRW" if k % 2 else "USD", "name": f"BOND {k}"}
                for k in range(s["bonds_meta"])]
        add("bonds_meta", _dump(f"{out}/bonds_meta/ymd={d}/bonds_meta_{d[:7]}.json",
                                json.dumps(recs)), len(recs))
        for k in range(s["bonds_html"]):
            cells = "".join(f"  <tr><td>Field {j}</td><td> {r.uniform(0, 100):.3f} </td></tr>\n"
                            for j in range(20))
            html = (f"<html>\n<body>\n<h1>BOND {k} overview</h1>\n<table class=\"bond-meta\">\n"
                    f"  <tr><th>Field</th><th>Value</th></tr>\n{cells}</table>\n</body>\n</html>\n")
            add("bonds_meta_html", _dump(
                f"{out}/bonds_meta_html/ymd={d}/BOND {k}.html", html), 1)
        # S10 gics
        recs = [{"code": str(10 + k)[:2] + ("%02d" % (k % 100)) * (k % 4),
                 "name": f"Sector {k}"} for k in range(s["gics"])]
        add("gics_codes", _dump(f"{out}/gics_codes/ymd={d}/gics_codes_{d}.json",
                                json.dumps(recs)), len(recs))
        # S13 fx wide matrix
        add("exchange_rate", _dump(
            f"{out}/exchange_rate/ymd={d}/{d}_exchange_rates.csv",
            "RecordDate," + ",".join(pairs) + "\n" + prev + "," +
            ",".join(f"{r.uniform(0.5, 1500):.4f}" for _ in pairs) + "\n"), 1)
        # S14 msci: one file per index, partition = logical date - 1
        part = (dt.date.fromisoformat(d) - dt.timedelta(days=1)).isoformat()
        for k in range(s["msci"]):
            add("msci_index", _dump(
                f"{out}/msci_index/ymd={part}/msci_I{k:02d}.json",
                json.dumps([{"Close": round(float(r.uniform(500, 5000)), 2),
                             "Open": 1.0, "High": 2.0, "Low": 0.5, "Volume": 0.0,
                             "Index_Name": f"I{k:02d}",
                             "RecordDate": f"{prev}T00:00:00"}])), 1)

    # S12 holidays (JSON + XML twin), yearly
    hol = [{"calnd_dd_dy": h, "dy_tp_cd": "HOL", "kr_dy_tp": "요일", "holdy_nm": f"휴일{i}"}
           for i, h in enumerate(HOLIDAYS_2025)]
    add("kr_market_holiday", _dump(f"{out}/kr_market_holiday/year=2025/data.json",
                                   json.dumps({"block1": hol}, ensure_ascii=False)), len(hol))
    items = "".join(f"<item><dateKind>01</dateKind><dateName>H{i}</dateName>"
                    f"<isHoliday>Y</isHoliday><locdate>{h.replace('-', '')}</locdate>"
                    f"<seq>1</seq></item>\n" for i, h in enumerate(HOLIDAYS_2025))
    add("kr_market_holiday_xml", _dump(
        f"{out}/kr_market_holiday_xml/year=2025/data.xml",
        '<?xml version="1.0" encoding="UTF-8"?>\n<response><body><items>\n'
        + items + "</items></body></response>\n"), len(HOLIDAYS_2025))
    # S11 news, monthly
    recs = [{"abstract": f"Story {k}.", "web_url": f"https://example.com/{k}",
             "headline": {"main": f"Headline {k}", "kicker": "Markets"},
             "pub_date": f"{NEWS_MONTH}T10:00:00+0000", "section_name": "Business",
             "byline": {"original": f"By Writer {k % 9}"},
             "word_count": int(r.integers(100, 2000)),
             "keywords": [{"name": "subject", "value": f"K{j}"} for j in range(3)]}
            for k in range(s["news"])]
    add("news", _dump(f"{out}/news/ymd={NEWS_MONTH}/news.json", json.dumps(recs)), len(recs))
    # S21 deprecated ETF backfill, red path on RED_DAY
    for d in BACKFILL_REQUEST:
        rows = [] if d == RED_DAY else [
            {"ISU_SRT_CD": c, "ISU_ABBRV": f"ETF {c}",
             "TDD_CLSPRC": f"{int(base_px[c] * r.uniform(0.95, 1.05)):,}",
             "FLUC_RT": f"{r.uniform(-3, 3):.2f}",
             "ACC_TRDVOL": f"{int(r.integers(1, 10**7)):,}"} for c in etf[:s["etf_old"]]]
        add("kr_etf_old", _dump(f"{out}/kr_etf_old/ymd={d}/data.json", json.dumps(
            {"output": rows, "CURRENT_DATETIME": f"{d} 18:00:05"})), len(rows))
    return stats, days


def generate(workload, seed, root):
    """Generate (or reuse) the inputs of one (workload, seed); return the
    directory holding ``manifest.json``."""
    size = SIZES[workload]
    digest = hashlib.sha256(json.dumps(size, sort_keys=True).encode()).hexdigest()[:8]
    key = f"{workload}-seed{seed}-{digest}"
    out = os.path.join(root, key)
    if os.path.exists(os.path.join(out, "manifest.json")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    manifest = {"workload": workload, "seed": seed, "size": size}
    if workload == "platform_backfill":
        stats, days = payloads(seed, size, os.path.join(out, "payloads"))
        manifest.update(payloads=stats, days=days, news_month=NEWS_MONTH,
                        backfill_request=BACKFILL_REQUEST, red_day=RED_DAY,
                        holiday_year=2025)
    else:
        manifest["tables"] = tables(seed, size, os.path.join(out, "tables"))
    with open(os.path.join(out, "manifest.json.tmp"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(os.path.join(out, "manifest.json.tmp"), os.path.join(out, "manifest.json"))
    return out


def prune(root, keep):
    """Drop all but the ``keep`` most recently generated input sets."""
    entries = sorted((os.path.getmtime(os.path.join(root, d, "manifest.json")), d)
                     for d in os.listdir(root)
                     if os.path.exists(os.path.join(root, d, "manifest.json")))
    for _, d in entries[:-keep]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
