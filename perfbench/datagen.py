"""Seeded input generators for the benchmark (plain Python, no Spark).

Two kinds of input:

* ``write_tables`` writes the ten parquet tables the contract queries
  read (TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings``), with the same names, column types and value domains
  as the engine's test datasets, scaled by ``sf``.
* ``recall_days`` yields the raw RappelConso-shaped records of each
  ingest day: accented text, every date-range form the transform
  branches on, empty strings, duplicate keys within a day and keys
  re-delivered from earlier days.

Nothing here imports the engine, so generation is not part of the
system under test.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
_NOUN = ["anvil", "bolt", "gear", "nut", "plate", "ring", "rod", "screw"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a the data spark stream batch table row column key value query join "
    "filter group agg sort merge scan hash window order line part customer "
    "vector fast slow big small"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D")
    b = np.datetime64(hi, "D")
    return (a + rng.integers(0, (b - a).astype(int) + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.03:
            # near-duplicate of an earlier document: a few words edited
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 0.8, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (sf0.1: 600k lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    ts = lambda a: pa.array(a, type=pa.timestamp("us"))  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": i32(range(5)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    t["customer"] = pa.table({
        "c_custkey": i64(range(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": i64(range(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": i64(range(n_part)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": ts(_days(rng, "1995-01-02", "2001-11-04", n_li)),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table({
        "event_id": i64(range(n_ev)),
        "ts": ts(start + offsets.astype("timedelta64[us]")),
        "user_id": i64(rng.integers(0, 1500, n_ev)),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the tables as ``<out_dir>/<name>.parquet``, one file each.
    The directory appears atomically, so a half-written set is never
    read."""
    tmp = f"{out_dir}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in build_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


# ---- recall ingest -------------------------------------------------------

_CATEGORIES = ["Épicerie sucrée", "Viandes", "Lait et produits laitiers", "Boissons", "Hygiène-Beauté"]
_SUBCATS = ["Biscuits", "Plats préparés", "Fromages à pâte molle", "Eaux", "Crème solaire"]
_BRANDS = ["Crème d'Île", "Château Lévêque", "Maison Noël", "Bio Façon", "Ferme du Pré"]
_RISKS = ["Listeria monocytogenes", "Salmonella", "Corps étrangers", "Allergène non déclaré", ""]
_MOTIFS = ["Présence de Listeria", "Défaut d'étiquetage", "Température non respectée", "Goût altéré"]
_ZONES = ["France entière", "Île-de-France", "Région Provence-Alpes-Côte d'Azur", ""]


def _date_range(rng: random.Random) -> str:
    """One of the forms ``split_commercialisation_dates`` branches on."""
    d1 = f"{rng.randint(1, 28):02d}/{rng.randint(1, 12):02d}/2024"
    d2 = f"{rng.randint(1, 28):02d}/{rng.randint(1, 12):02d}/2025"
    return rng.choice([
        f"Du {d1} au {d2}",
        f"Depuis le {d1}",
        f"Jusqu'au {d2}",
        f"Commercialisé le {d1}",
        "Non communiqué",
        "",
    ])


def _recall_record(rng: random.Random, key: str, pub: str, keep_all: bool = False) -> dict:
    base = f"https://rappel.conso.gouv.fr/fiche/{key}"
    rec = {
        "reference_fiche": key,
        "date_de_publication": pub,
        "liens_vers_les_images": f"{base}/img.jpg",
        "lien_vers_la_liste_des_produits": f"{base}/produits",
        "lien_vers_la_liste_des_distributeurs": rng.choice([f"{base}/distributeurs", ""]),
        "lien_vers_affichette_pdf": f"{base}/affichette.pdf",
        "lien_vers_la_fiche_rappel": base,
        "date_de_fin_de_la_procedure_de_rappel": rng.choice(["2025-06-30", "", "2025-12-31"]),
        "categorie_de_produit": rng.choice(_CATEGORIES),
        "sous_categorie_de_produit": rng.choice(_SUBCATS),
        "nom_de_la_marque_du_produit": rng.choice(_BRANDS),
        "noms_des_modeles_ou_references": f"Modèle {rng.randint(1, 999)}",
        "identification_des_produits": f"Lot {rng.randint(10000, 99999)} - DLC {rng.randint(1, 28):02d}/06/2025",
        "conditionnements": rng.choice(["Boîte 250 g", "Sachet", "", "Bouteille 1 L"]),
        "temperature_de_conservation": rng.choice(["Produit à conserver au réfrigérateur", "Température ambiante", ""]),
        "zone_geographique_de_vente": rng.choice(_ZONES),
        "distributeurs": rng.choice(["Carrefour, Leclerc", "Intermarché", "Système U", ""]),
        "motif_du_rappel": rng.choice(_MOTIFS),
        "numero_de_contact": rng.choice(["0800 123 456", ""]),
        "modalites_de_compensation": rng.choice(["Remboursement", "Échange", ""]),
        "risques_encourus_par_le_consommateur": rng.choice(_RISKS),
        "description_complementaire_du_risque": rng.choice(["Fièvre, maux de tête", "", "Réaction allergique"]),
        "preconisations_sanitaires": rng.choice(["Consulter un médecin en cas de symptômes", ""]),
        "recommandations_sante": rng.choice(["Ne pas consommer", ""]),
        "informations_complementaires": rng.choice(["Produit rappelé à titre préventif", ""]),
        "informations_complementaires_publiques": rng.choice(["Voir l'affichette", ""]),
        "date_debut_fin_de_commercialisation": _date_range(rng),
    }
    # the API omits some fields entirely; absent differs from ""
    for k in ("description_complementaire_du_risque", "informations_complementaires_publiques"):
        if not keep_all and rng.random() < 0.2:
            del rec[k]
    return rec


# Every raw field the API can send.
RAW_COLUMNS = tuple(sorted(_recall_record(random.Random(0), "k", "2024-01-01", keep_all=True)))


def recall_days(seed: int, n_days: int, per_day: int):
    """Yield ``(day_index, records)`` for ``n_days`` days of about
    ``per_day`` raw records each. Within a day ~5% of keys appear two or
    three times with distinct publication dates; ~5% of a day's keys
    were first delivered on an earlier day."""
    rng = random.Random(seed)
    seen: list[str] = []
    next_key = 0
    for day in range(n_days):
        pub_day = dt.date(2024, 1, 1) + dt.timedelta(days=day)
        records = []
        fresh = []
        for _ in range(per_day):
            key = f"RC-{seed % 1000:03d}-{next_key:07d}"
            next_key += 1
            fresh.append(key)
            records.append(_recall_record(rng, key, pub_day.isoformat()))
        for key in rng.sample(fresh, per_day // 20):
            for back in range(1, rng.randint(2, 3)):
                pub = (pub_day - dt.timedelta(days=back)).isoformat()
                records.append(_recall_record(rng, key, pub))
        for key in rng.sample(seen, min(len(seen), per_day // 20)):
            records.append(_recall_record(rng, key, pub_day.isoformat()))
        rng.shuffle(records)
        seen.extend(fresh)
        yield day, records


def write_json_lines(path: str, records: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for rec in records:
            fh.write(json.dumps(rec, ensure_ascii=False))
            fh.write("\n")
