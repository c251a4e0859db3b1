"""Seeded, content-stamped inputs for the benchmark workloads.

A workload reads one or more input parts (``PARTS``), each written by
its own generator into a subdirectory of the workload's input
directory. ``generate`` writes them for ``(seed, scale)`` plus
``manifest.json``: the seed, a sha256 of this source file, per-file
sha256 and row counts, each part's traffic shares and the truths the
output checks compare against. The same seed gives byte-identical
files; the program under test only ever sees the files.

Scales: ``full`` is the measured input, ``tiny`` a tenth of it for the
benchmark's own tests.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import re
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST = "manifest.json"

#: rows / docs of each input part per scale; see README.md for how
#: they were chosen
SIZES = {
    "etl": {"full": 6_000, "tiny": 600},
    "audit": {"full": 30_000, "tiny": 3_000},
    "dedup": {"full": 400, "tiny": 40},
}
#: workload → the input parts it reads
PARTS = {"etl_audit": ("etl", "audit"), "corpus_dedup": ("dedup",)}


def source_sha256() -> str:
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def row_hash(values) -> int:
    """Order-independent row digest: 48 bits of md5 over the row's
    cells (None → NUL), summed over a table by the checkers. The Spark
    side computes the same expression (``workloads.table_hash``)."""
    s = "\x1f".join("\x00" if v is None else v for v in values)
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16)


# --------------------------------------------------------------- part: etl

#: the reference's creditos header (FIXTURES.md §1): 47 cells with
#: FormaPago and Periodicidad each duplicated
CREDITOS_HEADER = [
    "Crédito", "Dias Mora Actual", "Plazo", "CuotasPagas", "NúmeroVez",
    "EstadoCrédito", "Monto", "Saldo", "Monto Aprobado", "ValorCuota",
    "TasaInterés", "FechaSolicitud", "FechaIngreso", "FechaGiro",
    "FechaInicio", "FechaLegalización", "Fecha Acta Aprobación",
    "VencimientoCuota", "CódigoLínea", "Línea", "Categoría",
    "CategoríaDeudor", "Nombre Deudor", "DirecciónResidencia",
    "DirecciónCorrespondencia", "E Mail", "IdentificaciónDeudor",
    "Municipio Residencia", "Departamento Residencia", "ActaAprobación",
    "Destino", "Estado", "FormaPago", "FormaPago", "Indice Color",
    "LíneaCrédito", "NombreCategoría", "Observaciones", "Pagaduría",
    "Periodicidad", "Periodicidad", "Tipo70 / 30", "Oficina", "Asesor",
    "Garantía", "Sector", "Estrato",
]
CREDITOS_DATES = [
    "FechaSolicitud", "FechaIngreso", "FechaGiro", "FechaInicio",
    "FechaLegalización", "Fecha Acta Aprobación", "VencimientoCuota",
]
RADICADOS_HEADER = [
    "Radicado", "Fecha Radicacion", "Procedencia", "Detalle", "Naturaleza",
    "Medio", "Expediente", "Opciones", "Destino", "Rpta", "Asunto",
    "Anexos", "Usuario", "Dependencia",
]
WORDS = (
    "crédito cuota pago saldo señor señora bogotá medellín cali calle "
    "carrera avenida número oficina trámite solicitud aprobación giro "
    "cesantías vivienda educación préstamo revisión documento anexo"
).split()
CODES = ["GTICS", "GGF", "GAUEGI", "GER", "OPL", "GAJ", "GGA", "XXX"]
EPOCH = dt.date(2015, 1, 1)
JUNK_ROW = "Reporte generado por el sistema TAO;;;\n"
#: newest snapshot date; the two older snapshots precede it
SNAPSHOT_DATES = ["20240105", "20240205", "20240305"]


def _text(rng, n: int, lo: int, hi: int) -> list[str]:
    """n free-text cells of lo..hi latin-1 words (no separators)."""
    lens = rng.integers(lo, hi + 1, n)
    picks = rng.integers(0, len(WORDS), int(lens.sum()))
    out, k = [], 0
    for ln in lens:
        out.append(" ".join(WORDS[i] for i in picks[k:k + ln]))
        k += ln
    return out


def _dates(rng, n: int, blank_share: float = 0.10):
    """Day offsets and their dialect strings: dd/MM/yyyy, dd-MM-yyyy,
    dd.MM.yyyy, some with a time part or stray spaces; blanks and a
    little junk parse to null (offset None)."""
    days = rng.integers(0, 9 * 365, n)
    style = rng.integers(0, 6, n)
    kind = rng.random(n)
    base = EPOCH.toordinal()
    offsets: list[int | None] = []
    cells: list[str] = []
    for d, s, k in zip(days.tolist(), style.tolist(), kind.tolist()):
        if k < blank_share:
            offsets.append(None)
            cells.append("")
            continue
        if k < blank_share + 0.01:
            offsets.append(None)
            cells.append("sin fecha")
            continue
        day = dt.date.fromordinal(base + d)
        sep = "/-."[s % 3]
        cell = f"{day.day:02d}{sep}{day.month:02d}{sep}{day.year}"
        if s == 3:
            cell += " 10:30"
        elif s == 4:
            cell = f" {cell} "
        offsets.append(d)
        cells.append(cell)
    return offsets, cells


def _quote(cell: str) -> str:
    return '"' + cell.replace('"', '""') + '"'


def _write_csv(path: str, header: list[str], cols: list[list[str]], junk: bool):
    lines = [JUNK_ROW] if junk else []
    lines.append(";".join(header) + "\n")
    lines.extend(";".join(row) + "\n" for row in zip(*cols))
    with open(path, "wb") as fh:
        fh.write("".join(lines).encode("latin-1"))


def _creditos(rng, n: int, path: str) -> dict:
    """One creditos snapshot; returns its truths."""
    ids = (rng.permutation(n) + 1_000_000).astype(str).tolist()
    cols: dict[str, list[str]] = {}
    truth = {"rows": n, "dates_nonnull": {}}
    offs = {}
    for c in CREDITOS_DATES:
        offs[c], cols[c] = _dates(rng, n)
        truth["dates_nonnull"][c] = sum(o is not None for o in offs[c])
    giro = [
        g - s for g, s in zip(offs["FechaGiro"], offs["FechaSolicitud"])
        if g is not None and s is not None
    ]
    truth["tiempo_solicitud_giro_sum"] = sum(giro)
    cents = rng.integers(100_000, 9_000_000_000, n)
    blank = rng.random(n) < 0.05
    cols["Monto"] = [
        "" if b else f"{c // 100},{c % 100:02d}"
        for c, b in zip(cents.tolist(), blank.tolist())
    ]
    truth["monto_cents_sum"] = int(cents[~blank].sum())
    for c in ("Saldo", "Monto Aprobado", "ValorCuota"):
        v = rng.integers(0, 500_000_000, n)
        cols[c] = [f"{x // 100},{x % 100:02d}" for x in v.tolist()]
    rate = rng.integers(500_000, 1_500_000, n)
    cols["TasaInterés"] = [f"{r} %" for r in rate.tolist()]
    for c in ("Dias Mora Actual", "Plazo", "CuotasPagas", "NúmeroVez"):
        cols[c] = rng.integers(0, 360, n).astype(str).tolist()
    cols["Crédito"] = ids
    cols["EstadoCrédito"] = [
        ["Terminado", "Rechazado", "Activo", "Anulado", "Solicitud"][i]
        for i in rng.integers(0, 5, n).tolist()
    ]
    # the quoted free-text column: some values span two or three lines
    multi = rng.random(n) < 0.05
    addr = _text(rng, n, 2, 6)
    cols["DirecciónCorrespondencia"] = [
        _quote(a.replace(" ", "\n", 2) if m else a)
        for a, m in zip(addr, multi.tolist())
    ]
    truth["multiline_share"] = float(multi.mean())
    cols["Observaciones"] = [_quote(t) for t in _text(rng, n, 0, 12)]
    cols["Tipo70 / 30"] = [["", "1", "0"][i] for i in rng.integers(0, 3, n).tolist()]
    pool = _text(rng, 64, 1, 3)
    for c in CREDITOS_HEADER:
        if c not in cols:
            cols[c] = [pool[i] for i in rng.integers(0, 64, n).tolist()]
    _write_csv(path, CREDITOS_HEADER, [cols[c] for c in CREDITOS_HEADER], junk=True)
    return truth


def _radicados(rng, n: int, path: str) -> dict:
    cols: dict[str, list[str]] = {}
    cols["Radicado"] = (rng.permutation(n) + 2_000_000).astype(str).tolist()
    _, d = _dates(rng, n, blank_share=0.02)
    hours = rng.integers(0, 24 * 60, n).tolist()
    cols["Fecha Radicacion"] = [
        c.strip().replace("-", "/").replace(".", "/")[:10] + f" {h // 60:02d}:{h % 60:02d}"
        if c else "" for c, h in zip(d, hours)
    ]
    names = _text(rng, n, 2, 3)
    code = rng.integers(0, len(CODES), n).tolist()
    bare = rng.random(n) < 0.3
    cols["Destino"] = [
        nm if b else f"jefe-{CODES[k]}-{nm}"
        for nm, k, b in zip(names, code, bare.tolist())
    ]
    cols["Rpta"] = rng.integers(0, 2, n).astype(str).tolist()
    cols["Detalle"] = [_quote(t) for t in _text(rng, n, 3, 15)]
    pool = _text(rng, 64, 1, 3)
    for c in RADICADOS_HEADER:
        if c not in cols:
            cols[c] = [pool[i] for i in rng.integers(0, 64, n).tolist()]
    _write_csv(path, RADICADOS_HEADER, [cols[c] for c in RADICADOS_HEADER], junk=False)
    return {"rows": n}


def gen_etl(rng, n: int, root: str) -> tuple[dict, dict, dict]:
    """raw/ + modeled/ layouts, three dated snapshots per entity. Only
    the newest (latest mtime) is full size; older ones are small, so a
    wrong pick shows in the row counts."""
    truth: dict = {}
    file_rows = {}
    for layer, share in (("raw", 1.0), ("modeled", 0.5)):
        os.makedirs(os.path.join(root, layer), exist_ok=True)
        for k, day in enumerate(SNAPSHOT_DATES):
            newest = k == len(SNAPSHOT_DATES) - 1
            for entity, make, ratio in (
                ("creditos", _creditos, 1.0), ("radicados", _radicados, 0.5)
            ):
                rows = max(20, int(n * share * ratio)) if newest else 50 + 10 * k
                path = os.path.join(root, layer, f"{day}_{entity}.csv")
                t = make(rng, rows, path)
                file_rows[os.path.relpath(path, root)] = rows
                stamp = dt.datetime.strptime(day, "%Y%m%d").timestamp()
                os.utime(path, (stamp, stamp))
                if newest:
                    truth[f"{layer}_{entity}"] = t
    shares = {
        "multiline_share": truth["raw_creditos"].pop("multiline_share"),
        "snapshots_per_entity": len(SNAPSHOT_DATES),
    }
    truth["modeled_creditos"].pop("multiline_share")
    truth["input_rows"] = sum(t["rows"] for t in truth.values())
    return truth, shares, file_rows


# ------------------------------------------------------------- part: audit

AUDIT_PK = "Radicado"
AUDIT_COLS = ["Procedencia", "Estado"]
AUDIT_OTHER = ["Detalle", "Medio", "Fecha Radicacion", "Rpta"]
AUDIT_COLUMNS = [AUDIT_PK] + AUDIT_COLS + AUDIT_OTHER


def _maybe_null(rng, values: list[str], share: float) -> list[str | None]:
    nulls = rng.random(len(values)) < share
    return [None if z else v for v, z in zip(values, nulls.tolist())]


def gen_audit(rng, m: int, root: str) -> tuple[dict, dict, dict]:
    """published.parquet (m string rows) + snapshot.parquet: 5% of ids
    get changed audit columns (a third of them null↔value), 3% change
    only non-audit columns, 2% are new ids, 1% are removed."""
    ids = [f"{i:09d}" for i in rng.permutation(m) + 100_000_000]
    proc = [f"P{i:03d}" for i in rng.integers(0, 400, m).tolist()]
    estado = [["Abierto", "Cerrado", "Tramite", "Archivado"][i]
              for i in rng.integers(0, 4, m).tolist()]
    pub = {
        AUDIT_PK: ids,
        "Procedencia": _maybe_null(rng, proc, 0.03),
        "Estado": _maybe_null(rng, estado, 0.03),
        "Detalle": _text(rng, m, 2, 8),
        "Medio": [["Correo", "Web", "Ventanilla"][i] for i in rng.integers(0, 3, m).tolist()],
        "Fecha Radicacion": [
            (EPOCH + dt.timedelta(days=d)).isoformat() for d in rng.integers(0, 3000, m).tolist()
        ],
        "Rpta": rng.integers(0, 2, m).astype(str).tolist(),
    }
    pub_rows = list(zip(*(pub[c] for c in AUDIT_COLUMNS)))
    fate = rng.random(m)
    removed, changed, nullflip, other = 0.01, 0.05, 1 / 3, 0.03
    snap_rows = []
    pick = rng.random((m, 2)).tolist()
    for row, f, (r, c) in zip(pub_rows, fate.tolist(), pick):
        if f < removed:
            continue
        row = list(row)
        if f < removed + changed:
            j = 1 if c < 0.5 else 2  # which audit column
            if r < nullflip:
                row[j] = None if row[j] is not None else "P999"
            else:
                row[j] = (row[j] or "x") + "_v2"
        elif f < removed + changed + other:
            row[3] = row[3] + " revisado"
        snap_rows.append(tuple(row))
    n_new = int(m * 0.02)
    for i in range(n_new):
        snap_rows.append((f"{900_000_000 + i:09d}", "P500", "Abierto",
                          "nuevo registro", "Web", "2024-03-01", "0"))
    order = rng.permutation(len(snap_rows))
    snap_rows = [snap_rows[i] for i in order.tolist()]

    def write(rows, name):
        table = pa.table(
            {c: pa.array([r[k] for r in rows], pa.string())
             for k, c in enumerate(AUDIT_COLUMNS)}
        )
        pq.write_table(table, os.path.join(root, name))

    os.makedirs(root, exist_ok=True)
    write(pub_rows, "published.parquet")
    write(snap_rows, "snapshot.parquet")

    # truths, by the reference's null rules (operators/audit.py):
    # the log needs both sides non-null and different; the merge keeps
    # the published row only when every audit column is equal and
    # non-null on both sides
    by_id = {r[0]: r for r in pub_rows}
    log_ids = []
    merged_hash = 0
    for s in snap_rows:
        p = by_id.get(s[0])
        if p is not None and any(
            p[j] is not None and s[j] is not None and p[j] != s[j] for j in (1, 2)
        ):
            log_ids.append(s[0])
        keep = p is not None and all(
            p[j] is not None and s[j] is not None and p[j] == s[j] for j in (1, 2)
        )
        merged_hash += row_hash(p if keep else s)
    truth = {
        "published_rows": m,
        "snapshot_rows": len(snap_rows),
        "input_rows": len(snap_rows),
        "log_rows": len(log_ids),
        "log_id_hash": str(sum(row_hash([i]) for i in log_ids)),
        "merged_hash": str(merged_hash),
    }
    shares = {
        "removed_share": round(1 - (len(snap_rows) - n_new) / m, 6),
        "new_share": round(n_new / m, 6),
        "changed_audit_share": round(float(((fate >= removed) & (fate < removed + changed)).mean()), 6),
        "changed_other_share": round(float(((fate >= removed + changed) & (fate < removed + changed + other)).mean()), 6),
    }
    file_rows = {"published.parquet": m, "snapshot.parquet": len(snap_rows)}
    return truth, shares, file_rows


# ------------------------------------------------------------- part: dedup

def _vocab(rng, size: int) -> list[str]:
    syl = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "gu", "ba", "xe"]
    words = set()
    while len(words) < size:
        k = int(rng.integers(2, 5))
        words.add("".join(syl[i] for i in rng.integers(0, len(syl), k).tolist()))
    return sorted(words)


def tokens(text: str) -> list[str]:
    """functions.text.tokens in Python: lower, non-alnum → space, trim, split."""
    return re.sub(r"[^a-z0-9]+", " ", text.lower()).strip(" ").split(" ")


def shingles(text: str, n: int = 3) -> set[str]:
    t = tokens(text)
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)} if len(t) >= n else set()


def jaccard(a: set, b: set) -> float:
    """Jaccard rounded half-up to 4 dp, as ``round_half_up`` does."""
    inter = len(a & b)
    return float(np.floor(inter / (len(a) + len(b) - inter) * 1e4 + 0.5) / 1e4)


def gen_dedup(rng, n: int, root: str) -> tuple[dict, dict, dict]:
    """Zipf-vocabulary corpus whose shape is the same for every seed,
    so that seeds change the content and not the amount of work: the
    originals' lengths are one fixed set of log-normal quantiles
    (around 45 words, clipped to 20–400, so a few percent exceed 200)
    in a seeded order; exactly 20% of the docs are near-dup edits (5–20%
    of words replaced) and 2% exact copies of an earlier original. Only
    originals are copied, so every cluster is a star around its
    original and ``dup_clusters`` needs about as many rounds for every
    seed."""
    vocab = _vocab(rng, 4000)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    p /= p.sum()
    n_exact, n_near = round(0.02 * n), round(0.20 * n)
    quantiles = [NormalDist(np.log(45), 0.7).inv_cdf((i + 0.5) / n) for i in range(n)]
    lens = rng.permutation(np.clip(np.exp(quantiles), 20, 400).astype(int)).tolist()
    copies = rng.choice(np.arange(11, n), n_exact + n_near, replace=False).tolist()
    exact = set(copies[:n_exact])
    near = set(copies[n_exact:])
    docs: list[list[str]] = []
    originals: list[int] = []
    exact_pairs = []
    for i in range(n):
        if i in exact or i in near:
            src = originals[int(rng.integers(0, len(originals)))]
            words = list(docs[src])
            if i in exact:
                exact_pairs.append((src, i))
            else:
                k = max(1, int(len(words) * rng.uniform(0.05, 0.20)))
                for j, w in zip(rng.integers(0, len(words), k).tolist(),
                                rng.choice(len(vocab), k, p=p).tolist()):
                    words[j] = vocab[w]
            docs.append(words)
        else:
            originals.append(i)
            docs.append([vocab[w] for w in rng.choice(len(vocab), lens[i], p=p).tolist()])
    texts = [w[0].capitalize() + " " + " ".join(w[1:]) + "." for w in docs]
    os.makedirs(root, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(range(n), pa.int64()), "text": pa.array(texts)}),
        os.path.join(root, "docs.parquet"),
    )
    truth = {"input_rows": n, "exact_dup_pairs": [list(p) for p in sorted(set(exact_pairs))]}
    shares = {
        "near_dup_share": round(len(near) / n, 6),
        "exact_dup_share": round(len(exact_pairs) / n, 6),
        "over_200_words_share": round(sum(len(d) > 200 for d in docs) / n, 6),
        "mean_words": round(sum(len(d) for d in docs) / n, 2),
    }
    return truth, shares, {"docs.parquet": n}


GENERATORS = {"etl": gen_etl, "audit": gen_audit, "dedup": gen_dedup}


def generate(workload: str, seed: int, scale: str, root: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``root`` (part
    ``p`` in ``root/p``) and return the manifest (also written to
    ``root/manifest.json``). Truths and shares are keyed by part."""
    manifest = {
        "workload": workload,
        "seed": seed,
        "scale": scale,
        "size": {},
        "generator_sha256": source_sha256(),
        "files": {},
        "shares": {},
        "truth": {"input_rows": 0},
    }
    for part in PARTS[workload]:
        rng = np.random.default_rng([seed, list(GENERATORS).index(part)])
        size = SIZES[part][scale]
        truth, shares, file_rows = GENERATORS[part](rng, size, os.path.join(root, part))
        for rel, rows in file_rows.items():
            path = os.path.join(part, rel)
            manifest["files"][path] = {
                "sha256": file_sha256(os.path.join(root, path)), "rows": rows
            }
        manifest["size"][part] = size
        manifest["shares"][part] = shares
        manifest["truth"][part] = truth
        manifest["truth"]["input_rows"] += truth["input_rows"]
    manifest["files"] = dict(sorted(manifest["files"].items()))
    with open(os.path.join(root, MANIFEST), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def verify(root: str) -> dict:
    """Re-check ``root`` against its manifest before timing: same
    generator source, same file set, same bytes. Raises on drift."""
    with open(os.path.join(root, MANIFEST)) as fh:
        manifest = json.load(fh)
    if manifest["generator_sha256"] != source_sha256():
        raise RuntimeError("inputs were made by another generator version")
    for rel, meta in manifest["files"].items():
        if file_sha256(os.path.join(root, rel)) != meta["sha256"]:
            raise RuntimeError(f"input file changed after generation: {rel}")
    return manifest


if __name__ == "__main__":
    import sys

    # gen.py WORKLOAD SEED SCALE=DIR [SCALE=DIR ...]
    for _arg in sys.argv[3:]:
        _scale, _root = _arg.split("=", 1)
        generate(sys.argv[1], int(sys.argv[2]), _scale, _root)
