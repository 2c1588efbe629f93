"""Deterministic input generators for the benchmark.

Two families, both pure functions of their seed:

* ``corpus(out_dir, scale, seed)`` writes harness-shaped parquet tables
  (``documents``, ``embeddings``, ``events``, ``customer``, ``supplier``,
  ``nation``, ``region``, ``part``, ``orders``, ``lineitem``) with the
  schemas the query surface reads.  The query workloads use one fixed
  corpus, so their recorded result digests stay valid.
* ``etl(out_dir, seed, sizes, rates)`` writes what the daily pipeline
  receives: ``transactions_DDMMYYYY.txt`` (semicolon CSV, euro-decimal
  amounts, replayed late duplicates), ``terminals_DDMMYYYY.txt`` full
  snapshots with churn, ``passport_blacklist_DDMMYYYY.xlsx`` real
  workbooks, per-day SQL for the JDBC source (inserts, updates and
  deletes that advance ``update_dt``), and ``manifest.json`` with the
  delivered ids, the planted fraud cases and per-day change counts.
  Sizes and daily change rates come from ``workloads.json``.
"""

import datetime as dt
import json
import os
import random
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
CITIES = ["City_%02d" % i for i in range(25)]
EPOCH_DAY = dt.date(2024, 1, 1)


# ── query corpus ────────────────────────────────────────────────────────

def _write(tables_dir, name, columns):
    pq.write_table(pa.table(columns), os.path.join(tables_dir, name + ".parquet"),
                   compression="snappy")


def corpus(out_dir, scale, seed):
    """Harness-shaped tables; ``scale=1`` is 2000 documents, 1000
    embeddings and 20000 events."""
    os.makedirs(out_dir, exist_ok=True)
    r = random.Random(seed)
    n_docs, n_vec, n_ev = int(2000 * scale), int(1000 * scale), int(20000 * scale)
    n_cust, n_supp, n_part = int(3000 * scale), int(200 * scale), int(2000 * scale)
    n_ord = int(6000 * scale)

    texts = []
    for i in range(n_docs):
        if i > 20 and r.random() < 0.06:  # near-duplicate of an earlier doc
            base = texts[r.randrange(len(texts))].split()
            for _ in range(r.randint(0, 2)):
                base[r.randrange(len(base))] = r.choice(WORDS)
            texts.append(" ".join(base + ["dup"]))
        else:
            texts.append(" ".join(r.choice(WORDS) for _ in range(r.randint(10, 100))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([r.choice(LANGS) for _ in range(n_docs)], pa.string()),
        "source": pa.array(["src%d" % (i % 20) for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    centers = [[r.gauss(0, 0.06) for _ in range(64)] for _ in range(10)]
    vecs, labels = [], []
    for i in range(n_vec):
        lab = r.randrange(10)
        v = [c + r.gauss(0, 0.125) for c in centers[lab]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
        labels.append(lab)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    t0 = dt.datetime(2024, 1, 1)
    span = 30 * 86400
    steps = sorted(r.randrange(span * 1000000) for _ in range(n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(microseconds=s) for s in steps], pa.timestamp("us")),
        "user_id": pa.array([r.randrange(max(1, n_ev // 66)) for _ in range(n_ev)], pa.int64()),
        "event_type": pa.array([r.choice(("signup", "purchase", "view", "click", "error"))
                                for _ in range(n_ev)], pa.string()),
        "value": pa.array([round(r.uniform(0, 100), 2) for _ in range(n_ev)], pa.float64()),
        "props": pa.array(['{"k": %d}' % r.randrange(100) for _ in range(n_ev)], pa.string()),
    })

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], pa.string()),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array(["NATION_%d" % i for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array([r.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": pa.array([round(r.uniform(-999, 9999), 2) for _ in range(n_cust)], pa.float64()),
        "c_mktsegment": pa.array([r.choice(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                            "MACHINERY")) for _ in range(n_cust)], pa.string()),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array([r.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": pa.array([round(r.uniform(-999, 9999), 2) for _ in range(n_supp)], pa.float64()),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array(["%s %s" % (r.choice(("large", "small", "medium")), r.choice(("ring", "bolt", "gear")))
                            for _ in range(n_part)], pa.string()),
        "p_brand": pa.array(["Brand#%d" % r.randrange(1, 50) for _ in range(n_part)], pa.string()),
        "p_type": pa.array([r.choice(("LARGE", "SMALL", "MEDIUM", "ECONOMY")) for _ in range(n_part)], pa.string()),
        "p_size": pa.array([r.randrange(1, 51) for _ in range(n_part)], pa.int32()),
        "p_retailprice": pa.array([float(900 + r.randrange(1100)) for _ in range(n_part)], pa.float64()),
    })
    odates = [dt.datetime(1995, 1, 1) + dt.timedelta(days=r.randrange(2400)) for _ in range(n_ord)]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([r.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
        "o_orderstatus": pa.array([r.choice("OFP") for _ in range(n_ord)], pa.string()),
        "o_totalprice": pa.array([round(r.uniform(1000, 300000), 2) for _ in range(n_ord)], pa.float64()),
        "o_orderdate": pa.array(odates, pa.timestamp("us")),
        "o_orderpriority": pa.array([r.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
                                     for _ in range(n_ord)], pa.string()),
    })
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
                          "l_shipdate")}
    for o in range(n_ord):
        for ln in range(1, r.randint(1, 7) + 1):
            q = float(r.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(r.randrange(n_part))
            li["l_suppkey"].append(r.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(round(q * r.uniform(900, 2000), 2))
            li["l_discount"].append(r.randrange(11) / 100)
            li["l_tax"].append(r.randrange(9) / 100)
            li["l_returnflag"].append(r.choice("NRA"))
            li["l_linestatus"].append(r.choice("OF"))
            li["l_shipdate"].append(odates[o] + dt.timedelta(days=r.randrange(1, 120)))
    types = {"l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(),
             "l_linenumber": pa.int32(), "l_quantity": pa.float64(), "l_extendedprice": pa.float64(),
             "l_discount": pa.float64(), "l_tax": pa.float64(), "l_returnflag": pa.string(),
             "l_linestatus": pa.string(), "l_shipdate": pa.timestamp("us")}
    _write(out_dir, "lineitem", {k: pa.array(v, types[k]) for k, v in li.items()})


# ── daily ETL sources ───────────────────────────────────────────────────

def euro(amount_cents):
    """12345678 → '123.456,78' (the reference's euro-decimal amounts)."""
    whole, cents = divmod(amount_cents, 100)
    digits = str(whole)
    groups = []
    while len(digits) > 3:
        groups.insert(0, digits[-3:])
        digits = digits[:-3]
    groups.insert(0, digits)
    return "%s,%02d" % (".".join(groups), cents)


def ddmmyyyy(day):
    return day.strftime("%d%m%Y")


def _xml_escape(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def write_xlsx(path, sheet, rows):
    """Smallest SpreadsheetML workbook: one sheet of inline-string cells.
    Entries carry a fixed timestamp so the bytes depend only on ``rows``."""
    def cell(ci, ri, v):
        return '<c r="%s%d" t="inlineStr"><is><t>%s</t></is></c>' % (chr(65 + ci), ri, _xml_escape(v))
    sheet_rows = "".join(
        '<row r="%d">%s</row>' % (ri, "".join(cell(ci, ri, v) for ci, v in enumerate(row)))
        for ri, row in enumerate(rows, start=1))
    ns = "http://schemas.openxmlformats.org"
    parts = [
        ("[Content_Types].xml",
         '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="%s/package/2006/content-types">'
         '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
         '<Default Extension="xml" ContentType="application/xml"/>'
         '<Override PartName="/xl/workbook.xml" ContentType="application/'
         'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
         '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
         'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>' % ns),
        ("_rels/.rels",
         '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="%s/package/2006/relationships">'
         '<Relationship Id="rId1" Type="%s/officeDocument/2006/relationships/officeDocument" '
         'Target="xl/workbook.xml"/></Relationships>' % (ns, ns)),
        ("xl/workbook.xml",
         '<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="%s/spreadsheetml/2006/main" '
         'xmlns:r="%s/officeDocument/2006/relationships"><sheets>'
         '<sheet name="%s" sheetId="1" r:id="rId1"/></sheets></workbook>' % (ns, ns, _xml_escape(sheet))),
        ("xl/_rels/workbook.xml.rels",
         '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="%s/package/2006/relationships">'
         '<Relationship Id="rId1" Type="%s/officeDocument/2006/relationships/worksheet" '
         'Target="worksheets/sheet1.xml"/></Relationships>' % (ns, ns)),
        ("xl/worksheets/sheet1.xml",
         '<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="%s/spreadsheetml/2006/main">'
         '<sheetData>%s</sheetData></worksheet>' % (ns, sheet_rows)),
    ]
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in parts:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, body.encode("utf-8"))


def _sql_str(v):
    return "NULL" if v is None else "'%s'" % v.replace("'", "''")


def _ts(t):
    return "TIMESTAMP('%s')" % t.strftime("%Y-%m-%d %H:%M:%S")


def _date(d):
    return "DATE('%s')" % d.isoformat()


DDL = [
    "CREATE TABLE cards(card_num VARCHAR(20), account VARCHAR(20), create_dt TIMESTAMP, update_dt TIMESTAMP)",
    "CREATE TABLE accounts(account VARCHAR(20), valid_to DATE, client VARCHAR(20), "
    "create_dt TIMESTAMP, update_dt TIMESTAMP)",
    "CREATE TABLE clients(client_id VARCHAR(20), last_name VARCHAR(40), first_name VARCHAR(40), "
    "patronymic VARCHAR(40), date_of_birth DATE, passport_num VARCHAR(20), passport_valid_to DATE, "
    "phone VARCHAR(20), create_dt TIMESTAMP, update_dt TIMESTAMP)",
]


def count(n, rate):
    """Rows a daily ``rate`` changes out of ``n``; at least one."""
    return max(1, int(n * rate))


def _inserts(table, rows):
    """Multi-row INSERTs of 200 rows, so the day-1 load compiles a few
    statements rather than one per row."""
    return ["INSERT INTO %s VALUES %s" % (table, ",".join("(%s)" % r for r in rows[i:i + 200]))
            for i in range(0, len(rows), 200)]


def etl(out_dir, seed, sizes, rates):
    """Sources for ``sizes["days"]`` consecutive January days.  Day 1 is
    the full load; the JDBC source's day-N changes are in
    ``derby/dayNN.sql``.  ``sizes`` holds ``days``, ``tx_per_day``,
    ``n_clients`` and ``n_terminals``; ``rates`` the daily shares
    documented in ``workloads.json``."""
    days, tx_per_day = sizes["days"], sizes["tx_per_day"]
    n_clients, n_terminals = sizes["n_clients"], sizes["n_terminals"]
    r = random.Random(seed)
    src = os.path.join(out_dir, "src")
    derby = os.path.join(out_dir, "derby")
    os.makedirs(src, exist_ok=True)
    os.makedirs(derby, exist_ok=True)
    pre = dt.datetime(2023, 12, 1)
    far = dt.date(2030, 12, 31)

    # JDBC source system: clients → accounts → cards.
    clients, accounts, cards = {}, {}, {}
    last = ("Ivanov", "Petrov", "Sidorov", "Smirnov", "Kuznetsov", "Popov", "Volkov")
    first = ("Ivan", "Petr", "Anna", "Olga", "Igor", "Maria", "Pavel")
    for i in range(n_clients):
        cid = "CL%05d" % i
        clients[cid] = [r.choice(last), r.choice(first), r.choice(first) + "ovich",
                        dt.date(1950 + r.randrange(50), 1 + r.randrange(12), 1 + r.randrange(28)),
                        "P%07d" % r.randrange(10 ** 7), far, "+7%09d" % r.randrange(10 ** 9), pre, None]
        for _ in range(1 + (i % 3 == 0)):
            acc = "ACC%06d" % len(accounts)
            accounts[acc] = [far, cid, pre, None]
            for _ in range(1 + (len(accounts) % 4 == 0)):
                cards["4000%012d" % len(cards)] = [acc, pre, None]
    terminals = {"T%05d" % i: [r.choice(("ATM", "POS", "ETM")), r.choice(CITIES)] for i in range(n_terminals)}

    manifest = {"seed": seed, "days": [], "planted": [], "tx_ids": 0, "source_rows": 0, "source_bytes": 0}
    card_list = sorted(cards)
    blacklist = []
    next_tx = 0
    prev_rows = []

    def client_of(card):
        return accounts[cards[card][0]][1]

    for d in range(days):
        day = EPOCH_DAY + dt.timedelta(days=d)
        day_t = dt.datetime(day.year, day.month, day.day)
        sql = []
        changed = 0
        if d == 0:
            sql += DDL
            sql += _inserts("clients", ["%s,%s,%s,%s,%s,%s,%s,%s,%s,NULL" % (
                _sql_str(k), _sql_str(v[0]), _sql_str(v[1]), _sql_str(v[2]), _date(v[3]),
                _sql_str(v[4]), _date(v[5]), _sql_str(v[6]), _ts(v[7])) for k, v in sorted(clients.items())])
            sql += _inserts("accounts", ["%s,%s,%s,%s,NULL" % (
                _sql_str(k), _date(v[0]), _sql_str(v[1]), _ts(v[2])) for k, v in sorted(accounts.items())])
            sql += _inserts("cards", ["%s,%s,%s,NULL" % (
                _sql_str(k), _sql_str(v[0]), _ts(v[1])) for k, v in sorted(cards.items())])
            changed = len(clients) + len(accounts) + len(cards)
        else:
            upd = day_t + dt.timedelta(hours=1, seconds=d)
            # Phone changes, card re-binding, new cards, closed cards.
            for cid in r.sample(sorted(clients), count(n_clients, rates["client_phone_change"])):
                clients[cid][6] = "+7%09d" % r.randrange(10 ** 9)
                sql.append("UPDATE clients SET phone = %s, update_dt = %s WHERE client_id = %s" % (
                    _sql_str(clients[cid][6]), _ts(upd), _sql_str(cid)))
                changed += 1
            for card in r.sample(card_list, count(len(card_list), rates["card_rebind"])):
                cards[card][0] = r.choice(sorted(accounts))
                sql.append("UPDATE cards SET account = %s, update_dt = %s WHERE card_num = %s" % (
                    _sql_str(cards[card][0]), _ts(upd), _sql_str(card)))
                changed += 1
            for _ in range(count(len(card_list), rates["card_new"])):
                card = "4000%012d" % (len(cards) + 10 ** 6)
                cards[card] = [r.choice(sorted(accounts)), upd, None]
                card_list.append(card)
                sql.append("INSERT INTO cards VALUES (%s,%s,%s,NULL)" % (
                    _sql_str(card), _sql_str(cards[card][0]), _ts(upd)))
                changed += 1
            for card in r.sample(card_list[:len(card_list) // 2], count(len(card_list), rates["card_close"])):
                if card in cards:
                    del cards[card]
                    card_list.remove(card)
                    sql.append("DELETE FROM cards WHERE card_num = %s" % _sql_str(card))
                    changed += 1

        # Planted fraud for the day.  Rules 1 and 2 use existing cards and
        # change their client or account.  Rules 3 and 4 read the card's
        # previous transactions, and the report joins every version of
        # the card's dimensions, so they use a fresh client, account and
        # card with one version each and no other transactions.
        planted_cards = r.sample(card_list, 2)
        fresh = {}
        for rule in (3, 4):
            cid, acc, card = "CLR%d_%02d" % (rule, d), "ACCR%d_%02d" % (rule, d), "5000%010d%02d" % (rule, d)
            made = day_t + dt.timedelta(hours=1)
            passport = "R%d%07d" % (rule, r.randrange(10 ** 7))
            sql.append("INSERT INTO clients VALUES (%s,'Planted','Rule','Case',DATE('1980-01-01'),%s,%s,"
                       "'+70000000000',%s,NULL)" % (_sql_str(cid), _sql_str(passport), _date(far), _ts(made)))
            sql.append("INSERT INTO accounts VALUES (%s,%s,%s,%s,NULL)" % (
                _sql_str(acc), _date(far), _sql_str(cid), _ts(made)))
            sql.append("INSERT INTO cards VALUES (%s,%s,%s,NULL)" % (_sql_str(card), _sql_str(acc), _ts(made)))
            fresh[rule] = (card, passport)
            changed += 3
        c1 = client_of(planted_cards[0])
        clients[c1][5] = day - dt.timedelta(days=1)  # rule 1: passport expired yesterday
        sql.append("UPDATE clients SET passport_valid_to = %s, update_dt = %s WHERE client_id = %s" % (
            _date(clients[c1][5]), _ts(day_t + dt.timedelta(hours=2)), _sql_str(c1)))
        a2 = cards[planted_cards[1]][0]
        accounts[a2][0] = day - dt.timedelta(days=1)  # rule 2: account expired yesterday
        sql.append("UPDATE accounts SET valid_to = %s, update_dt = %s WHERE account = %s" % (
            _date(accounts[a2][0]), _ts(day_t + dt.timedelta(hours=2)), _sql_str(a2)))
        changed += 2
        with open(os.path.join(derby, "day%02d.sql" % d), "w") as f:
            f.write(";\n".join(sql) + ";\n")

        # Terminals snapshot with churn (after day 1).
        term_changed = len(terminals)
        if d > 0:
            tids = sorted(terminals)
            moved = r.sample(tids, count(len(tids), rates["terminal_move"]))
            for t in moved:
                terminals[t][1] = r.choice(CITIES)
            gone = r.sample(tids, count(len(tids), rates["terminal_delete"]))
            for t in gone:
                del terminals[t]
            new = {"T%05d" % (n_terminals + 1000 * d + r.randrange(1000)) for _ in range(count(n_terminals, rates["terminal_new"]))}
            for t in sorted(new):
                terminals[t] = [r.choice(("ATM", "POS", "ETM")), r.choice(CITIES)]
            term_changed = len(set(moved) | set(gone) | new)
        tids = sorted(terminals)
        term_path = os.path.join(src, "terminals_%s.txt" % ddmmyyyy(day))
        with open(term_path, "w") as f:
            f.write("terminal_id;terminal_type;terminal_city\n")
            for t in tids:
                f.write("%s;%s;%s\n" % (t, terminals[t][0], terminals[t][1]))
        by_city = {}
        for t in tids:
            by_city.setdefault(terminals[t][1], []).append(t)
        cities = sorted(by_city)

        # Transactions.
        rows = []

        def tx(when, card, amount_cents, oper_type, result, term):
            nonlocal next_tx
            next_tx += 1
            row = ("%d" % (10 ** 9 + next_tx), when.strftime("%Y-%m-%d %H:%M:%S"), euro(amount_cents),
                   card, oper_type, result, term)
            rows.append(row)
            return row[0]

        for _ in range(tx_per_day):
            when = day_t + dt.timedelta(seconds=r.randrange(86400))
            tx(when, r.choice(card_list), r.randrange(100, 20000000),
               r.choice(("PAYMENT", "WITHDRAW", "DEPOSIT")), "REJECT" if r.random() < rates["tx_reject"] else "SUCCESS",
               r.choice(tids))
        # Rule 1 and 2: one transaction each from the planted cards.
        for rule, card in ((1, planted_cards[0]), (2, planted_cards[1])):
            when = day_t + dt.timedelta(hours=10 + rule, minutes=r.randrange(60))
            tx(when, card, r.randrange(1000, 100000), "PAYMENT", "SUCCESS", r.choice(tids))
            manifest["planted"].append({"rule": rule, "card": card, "event_dt": when.strftime("%Y-%m-%d %H:%M:%S"),
                                        "passport": clients[client_of(card)][4]})
        # Rule 3: two transactions 20 minutes apart in different cities.
        card, passport = fresh[3]
        when = day_t + dt.timedelta(hours=15, minutes=r.randrange(30))
        ca, cb = r.sample(cities, 2)
        tx(when, card, 50000, "PAYMENT", "SUCCESS", by_city[ca][0])
        hop = when + dt.timedelta(minutes=20)
        tx(hop, card, 60000, "PAYMENT", "SUCCESS", by_city[cb][0])
        manifest["planted"].append({"rule": 3, "card": card, "event_dt": hop.strftime("%Y-%m-%d %H:%M:%S"),
                                    "passport": passport})
        # Rule 4: three rejects at falling amounts, then a success, within 20 minutes.
        card, passport = fresh[4]
        when = day_t + dt.timedelta(hours=20, minutes=r.randrange(30))
        term = by_city[cities[0]][0]
        for k, (amt, res) in enumerate(((90000, "REJECT"), (80000, "REJECT"), (70000, "REJECT"),
                                        (60000, "SUCCESS"))):
            tx(when + dt.timedelta(minutes=4 * k), card, amt, "WITHDRAW", res, term)
        manifest["planted"].append({"rule": 4, "card": card,
                                    "event_dt": (when + dt.timedelta(minutes=12)).strftime("%Y-%m-%d %H:%M:%S"),
                                    "passport": passport})

        # Late duplicates: a replay of some of yesterday's rows.
        replay = r.sample(prev_rows, min(len(prev_rows), count(tx_per_day, rates["tx_late_replay"]))) if prev_rows else []
        delivered = sorted(rows + replay, key=lambda x: (x[1], x[0]))
        prev_rows = rows
        tx_path = os.path.join(src, "transactions_%s.txt" % ddmmyyyy(day))
        with open(tx_path, "w") as f:
            f.write("transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal\n")
            for row in delivered:
                f.write(";".join(row) + "\n")

        # Cumulative passport blacklist workbook.
        for cid in r.sample(sorted(clients), count(n_clients, rates["blacklist_new"])):
            blacklist.append((day.isoformat(), clients[cid][4]))
        bl_path = os.path.join(src, "passport_blacklist_%s.xlsx" % ddmmyyyy(day))
        write_xlsx(bl_path, "blacklist", [("date", "passport")] + blacklist)

        day_bytes = sum(os.path.getsize(p) for p in (tx_path, term_path, bl_path))
        manifest["days"].append({
            "date": day.isoformat(), "tx_rows": len(delivered), "tx_new": len(rows),
            "terminal_rows": len(tids), "blacklist_rows": len(blacklist), "jdbc_changed": changed,
            "terminal_changed": term_changed,
            "source_bytes": day_bytes + os.path.getsize(os.path.join(derby, "day%02d.sql" % d)),
        })
        manifest["tx_ids"] += len(rows)
        manifest["source_rows"] += len(delivered) + len(tids) + len(blacklist) + changed
        manifest["source_bytes"] += manifest["days"][-1]["source_bytes"]
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest

