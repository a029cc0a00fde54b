"""Seeded generator for the ETL workload.

From one seed it writes the same logical rows twice, as a latin1 CSV
and as a latin1 fixed-width PRN, plus a 7-row sample in both forms.
Alongside each input it writes the JSON and HTML bytes the CLI must
print for it.

The expected bytes are built from the normalized value each row was
generated from, never from the engine's output: every raw cell is
derived from its target value by one of the input forms the
normalizer accepts (postcode spacing and case, phone punctuation,
credit-limit decimals, commas and numeric prefixes, PRN cents, the
three birthday layouts and pass-through text). CSV and PRN of one row
use different raw forms of the same target, so the byte check also
checks that csv->x equals prn->x. The `Infinity` credit limit is left
out: PRN stores integer cents and cannot spell it.
"""
import json
import random
from decimal import Decimal

HEADERS = ["Name", "Address", "Postcode", "Phone", "Credit Limit", "Birthday"]

# latin1 text with non-ASCII letters, commas, quotes and HTML
# metacharacters in names and addresses
FIRST = ["John", "Paul", "Steve", "Pat", "Mal", "User", "Ærin", "Zoë", "José",
         "François", "Björn", "Søren", "Ingrid", "Noël", "Chloé", "Raúl"]
LAST = ["Johnson", "Anderson", "Wicket", "Benetar", "Gibson", "Friendly",
        "Smith", "Müller", "Østergård", "Núñez", "O'Brien", "Dupré",
        "Å'berg", "Çelik", "Großmann", "van der Berg"]
STREET = ["Voorstraat", "Dorpsplein", "Mendelssohnstraat", "Driehoog",
          "Vredenburg", "Sint Jansstraat", "Børkestraße", "Hauptstraße",
          "Rue de l'Église", "Calle Añil", "Smith & Sons Lane",
          "Plaça <Major>", 'The "Old" Mill', "Kärntner Ring"]
SUFFIX = ["", "A", "d", "zwart", "bis", "-II"]
PASS_BIRTHDAYS = ["n/a", "unknown", "1987", "31-12-87", "?", "TBD"]

NAME_W, ADDR_W, POST_W, PHONE_W, CREDIT_W = 30, 34, 10, 22, 14
BIRTHDAY_W = len("Birthday")  # the last PRN column ends at the header's end

JSON_HEAD, JSON_SEP, JSON_TAIL = "[\n  ", ",\n  ", "\n]\n"

HTML_PROLOGUE = """<!DOCTYPE html>
<html lang="en">
<head>
  <meta charset="UTF-8">
  <meta name="viewport" content="width=device-width, initial-scale=1.0">
  <title>Data Output</title>
  <style>
    body { font-family: sans-serif; margin: 20px; }
    table { border-collapse: collapse; width: 100%; margin-top: 20px; }
    th, td { border: 1px solid #ddd; padding: 8px; text-align: left; }
    th { background-color: #f2f2f2; }
    tr:nth-child(even) { background-color: #f9f9f9; }
  </style>
</head>
<body>
  <h1>Processed Data</h1>
  <table>
    <thead>
      <tr>
""" + "".join(f"        <th>{h}</th>\n" for h in HEADERS) + """      </tr>
    </thead>
    <tbody>
"""
HTML_EPILOGUE = """    </tbody>
  </table>
</body>
</html>
"""


def _postcode(rng):
    """(raw csv, raw prn, normalized)"""
    if rng.random() < 0.2:
        digits = str(rng.randint(10000, 99999))
        return digits, " " + digits, digits
    digits, letters = str(rng.randint(1000, 9999)), "".join(
        rng.choice("ABCDEFGHJKLMNPRSTVWXZ") for _ in range(2))
    forms = [digits + " " + letters, digits + letters.lower(),
             digits + "  " + letters.lower(), " " + digits + letters]
    return rng.choice(forms), rng.choice(forms), digits + letters


def _phone(rng):
    if rng.random() < 0.25:
        cc, rest = str(rng.randint(1, 99)), str(rng.randint(100000000, 999999999))
        forms = [f"+{cc} {rest[:3]} {rest[3:]}", f"+{cc}-{rest}",
                 f"+{cc} ({rest[:2]}) {rest[2:]}"]
        return rng.choice(forms), rng.choice(forms), "+" + cc + rest
    n = "0" + str(rng.randint(100000000, 999999999))
    forms = [f"{n[:3]} {n[3:]}", f"{n[:4]}-{n[4:]}", f"({n[:3]}) {n[3:6]}-{n[6:]}", n]
    return rng.choice(forms), rng.choice(forms), n


def _credit(rng):
    """CSV forms of a credit limit and PRN integer cents for one target.
    Unparsable targets become 0.00 on both sides."""
    r = rng.random()
    if r < 0.06:
        return rng.choice(["abc", "n/a", ""]), rng.choice(["NOTANUMBER", "x12", ""]), "0.00"
    units = rng.randint(0, 250000)
    if r < 0.10:
        units = -units
    cents = rng.randint(0, 99)
    if r < 0.35:
        cents = 0
    elif r < 0.55:
        cents = cents - cents % 10
    target = Decimal(units) + (Decimal(cents) / 100 if units >= 0 else -Decimal(cents) / 100)
    target = target.quantize(Decimal("0.01"))
    text = format(target, "f")
    whole, frac = text.split(".")
    forms = [text, text.replace(".", ",")]
    if frac == "00":
        forms += [whole, whole + ".", whole + "abc"]
    elif frac.endswith("0"):
        forms += [whole + "." + frac[0], whole + "," + frac[0]]
    else:
        # three decimals that round half up to the target
        forms += [whole + "." + frac + "4", whole + "." + frac + "49"]
        if units >= 0 and cents > 0:
            below = (target - Decimal("0.01")).quantize(Decimal("0.01"))
            forms.append(format(below, "f") + "5")
    if units >= 0:
        forms += ["+" + text, text + "e0", whole + "." + frac + " EUR"]
    return rng.choice(forms), str(int(target * 100)), text


def _birthday(rng):
    if rng.random() < 0.08:
        v = rng.choice(PASS_BIRTHDAYS)
        return v, v, v
    y = rng.randint(1930, 2010)
    m, d = rng.randint(1, 12), rng.randint(1, 28)
    if rng.random() < 0.03:  # the normalizer does not check ranges
        m, d = rng.randint(13, 31), rng.randint(29, 31)
    target = f"{y:04d}-{m:02d}-{d:02d}"
    forms = [f"{d:02d}/{m:02d}/{y}", f"{d}/{m}/{y}", f"{y}{m:02d}{d:02d}",
             f"{y}-{m}-{d}", target]
    prn = [f for f in forms if len(f) <= BIRTHDAY_W]
    return rng.choice(forms), rng.choice(prn), target


def gen_rows(rng, n):
    """Yields (csv cells, prn cells, normalized cells) per row."""
    for _ in range(n):
        first, last = rng.choice(FIRST), rng.choice(LAST)
        name = f"{last}, {first}" if rng.random() < 0.7 else f"{first} {last}"
        addr = f"{rng.choice(STREET)} {rng.randint(1, 399)}{rng.choice(SUFFIX)}"
        addr = addr[:ADDR_W - 1].rstrip()
        pc, ph, cl, bd = _postcode(rng), _phone(rng), _credit(rng), _birthday(rng)
        pad_name = " " + name if rng.random() < 0.05 else name
        csv = [pad_name, addr, pc[0], ph[0], cl[0], bd[0]]
        prn = [name, addr, pc[1], ph[1], cl[1], bd[1]]
        norm = [name, addr, pc[2], ph[2], cl[2], bd[2]]
        yield csv, prn, norm


def _csv_cell(v):
    if v == "" or not any(c in v for c in ',"') and v == v.strip():
        return v
    return '"' + v.replace('"', '""') + '"'


def _prn_line(cells):
    widths = [NAME_W, ADDR_W, POST_W, PHONE_W]
    head = "".join(c.ljust(w) for c, w in zip(cells[:4], widths))
    return head + cells[4].rjust(CREDIT_W - 1) + " " + cells[5]


def _json_row(norm):
    return "{" + ",".join(json.dumps(h, ensure_ascii=False) + ":" +
                          json.dumps(v, ensure_ascii=False)
                          for h, v in zip(HEADERS, norm)) + "}"


def _html_escape(s):
    return (s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
            .replace('"', "&quot;").replace("'", "&#039;"))


def _html_row(norm):
    return "      <tr>\n" + "".join(
        f"        <td>{_html_escape(v)}</td>\n" for v in norm) + "      </tr>\n"


def _render(row):
    csv, prn, norm = row
    return (",".join(_csv_cell(v) for v in csv) + "\n", _prn_line(prn) + "\n",
            _json_row(norm), _html_row(norm))


def write_set(prefix, rendered):
    """Writes <prefix>.csv/.prn (latin1) and the expected
    <prefix>.json/.html (UTF-8) for a non-empty list of rendered rows."""
    prn_header = ("Name".ljust(NAME_W) + "Address".ljust(ADDR_W) +
                  "Postcode".ljust(POST_W) + "Phone".ljust(PHONE_W) +
                  "Credit Limit".ljust(CREDIT_W) + "Birthday")
    with open(prefix + ".csv", "w", encoding="latin-1", newline="") as f:
        f.write(",".join(HEADERS) + "\n" + "".join(r[0] for r in rendered))
    with open(prefix + ".prn", "w", encoding="latin-1", newline="") as f:
        f.write(prn_header + "\n" + "".join(r[1] for r in rendered))
    with open(prefix + ".json", "w", encoding="utf-8", newline="") as f:
        f.write(JSON_HEAD + JSON_SEP.join(r[2] for r in rendered) + JSON_TAIL)
    with open(prefix + ".html", "w", encoding="utf-8", newline="") as f:
        f.write(HTML_PROLOGUE + "".join(r[3] for r in rendered) + HTML_EPILOGUE)


POOL = 8192


def generate(out_dir, seed, rows):
    """Writes <out_dir>/full.* with `rows` rows and <out_dir>/sample.*
    with 7 rows, all from `seed`. The full set draws its rows from a
    pool of POOL generated rows, so that writing a million rows takes
    seconds."""
    rng = random.Random(seed)
    pool = [_render(r) for r in gen_rows(rng, POOL)]
    write_set(f"{out_dir}/sample", pool[:7])
    write_set(f"{out_dir}/full", rng.choices(pool, k=rows))
