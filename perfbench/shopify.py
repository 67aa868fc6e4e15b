"""Seeded Shopify-order landing batches for the ``etl_tick`` workload.

One batch mirrors one Excel export of the reference's ingest task:
30,887 to 30,920 order-line rows with the 18 landing columns of the
``shopify_orders`` fixture (the 19th column, ``etl_time``, is stamped
at load time). Several lines share an order, so ``order_number`` and
``total_price`` repeat within an order. The same seed and batch index
always give the same file.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

CSV_SCHEMA = (
    "order_id BIGINT, order_number INT, source_name STRING, sku STRING, "
    "product_title STRING, quantity INT, price DOUBLE, total_price DOUBLE, "
    "currency STRING, financial_status STRING, fulfillment_status STRING, "
    "customer_email STRING, country_code STRING, discount_amount DOUBLE, "
    "tax_amount DOUBLE, taxes_included INT, `date` TIMESTAMP, created_at TIMESTAMP"
)
TABLE_SCHEMA = CSV_SCHEMA + ", etl_time TIMESTAMP"

_SHOPS = ("Shopify_Litheli_EU", "Shopify_Litheli_US", "Shopify_Litheli_UK", "Shopify_Litheli_DE")
_CURRENCY = ("EUR", "USD", "GBP", "EUR")
_COUNTRIES = ("DE", "FR", "US", "GB", "IT", "ES", "NL")
_TITLES = (
    "Cordless Leaf Blower", "Brushless Drill 20V", "Hedge Trimmer 22in",
    "Lawn Mower 40V", "Battery Pack 4Ah", "Fast Charger", "Pole Saw",
    "String Trimmer", "Impact Driver", "Work Light LED",
)


def first_order_number(index: int) -> int:
    """The lowest ``order_number`` of batch ``index``: batches never
    share an order number, so it tells which batch a table holds."""
    return 1001 + index * 20_000


def make_batch(seed: int, index: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, index])
    n = int(rng.integers(30_887, 30_921))
    # 1-4 lines per order; order k owns a contiguous run of rows
    lines = rng.integers(1, 5, size=n)
    order_of_row = np.repeat(np.arange(n), lines)[:n]
    n_orders = int(order_of_row[-1]) + 1
    base_number = first_order_number(index)
    shop = rng.integers(0, len(_SHOPS), size=n_orders)
    customer = rng.integers(0, 12_000, size=n_orders)
    day = rng.integers(0, 30, size=n_orders)
    second = rng.integers(0, 86_400, size=n_orders)
    qty = rng.integers(1, 6, size=n)
    price = np.round(rng.uniform(9.99, 329.99, size=n), 2)
    line_total = qty * price
    order_total = np.round(np.bincount(order_of_row, weights=line_total), 2)
    sku_pool = [
        f"U20{chr(65 + a)}{chr(65 + b)}{c:02d}-{d}U{e:03d}"
        for a, b, c, d, e in rng.integers(0, [26, 26, 100, 10, 1000], size=(400, 5))
    ]
    dates = np.datetime64("2024-11-01") + day.astype("timedelta64[D]")
    o = order_of_row
    return pd.DataFrame(
        {
            "order_id": 11_273_648_374_134 + (base_number + o) * 7_919,
            "order_number": base_number + o,
            "source_name": np.array(_SHOPS)[shop[o]],
            "sku": np.array(sku_pool)[rng.integers(0, len(sku_pool), size=n)],
            "product_title": np.array(_TITLES)[rng.integers(0, len(_TITLES), size=n)],
            "quantity": qty,
            "price": price,
            "total_price": order_total[o],
            "currency": np.array(_CURRENCY)[shop[o]],
            "financial_status": rng.choice(
                ["paid", "refunded", "pending"], p=[0.85, 0.05, 0.10], size=n
            ),
            "fulfillment_status": np.where(rng.random(n) < 0.8, "fulfilled", None),
            "customer_email": [f"customer{c}@example.com" for c in customer[o]],
            "country_code": np.array(_COUNTRIES)[rng.integers(0, len(_COUNTRIES), size=n)],
            "discount_amount": np.round(rng.uniform(0, 50, size=n), 2),
            "tax_amount": np.round(line_total * 0.19, 2),
            "taxes_included": rng.integers(0, 2, size=n),
            "date": dates[o],
            "created_at": dates[o] + second[o].astype("timedelta64[s]"),
        }
    )


def write_batch(seed: int, index: int, directory: str) -> tuple[str, int]:
    """Write batch ``index`` as one CSV landing file; returns its path
    and row count."""
    df = make_batch(seed, index)
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, f"shopify_orders_{index:03d}.csv")
    df.to_csv(path, index=False, date_format="%Y-%m-%d %H:%M:%S")
    return path, len(df)
