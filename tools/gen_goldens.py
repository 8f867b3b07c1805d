#!/usr/bin/env python3
"""Regenerate src/test/scala/graft/ohlcv/PandasGoldens.scala: pandas-computed
expected values over the committed 300-row hourly OHLCV fixture
src/test/resources/ohlcv_1h_300.csv (gaps, a flat run and NaN bars; see
tools/gen_ohlcv_fixture.py), using the exact pandas calls the reference
makes (resample closed/label=right, ewm adjust=False min_periods, rolling
ddof=0, ta RSI/MACD formulas).

Usage: python3 tools/gen_goldens.py
"""
from pathlib import Path

import pandas as pd

ROOT = Path(__file__).resolve().parents[1]
df = pd.read_csv(ROOT / 'src/test/resources/ohlcv_1h_300.csv', nrows=300,
                 parse_dates=['datetime']).set_index('datetime')
g = {}

agg = df.resample('4h', closed='right', label='right').agg(
    {'open': 'first', 'high': 'max', 'low': 'min', 'close': 'last', 'volume': 'sum'}).dropna()
for i in [0, 1, 10, 50]:
    row = agg.iloc[i]
    g[f'resample4h_{i}_bucket_s'] = int(agg.index[i].timestamp())
    for c in ['open', 'high', 'low', 'close', 'volume']:
        g[f'resample4h_{i}_{c}'] = float(row[c])

close = df['close'].reset_index(drop=True)
ema = close.ewm(span=50, min_periods=50, adjust=False).mean()
for i in [48, 49, 100, 299]:
    g[f'ema50_{i}'] = None if pd.isna(ema.iloc[i]) else float(ema.iloc[i])
sma = close.rolling(50).mean()
for i in [48, 49, 150]:
    g[f'sma50_{i}'] = None if pd.isna(sma.iloc[i]) else float(sma.iloc[i])
std = close.rolling(20).std(ddof=0)
for i in [19, 150]:
    g[f'stdpop20_{i}'] = float(std.iloc[i])
diff = close.diff()
up, dn = diff.clip(lower=0), -diff.clip(upper=0)
ue = up.ewm(alpha=1 / 14, min_periods=14, adjust=False).mean()
de = dn.ewm(alpha=1 / 14, min_periods=14, adjust=False).mean()
rsi = 100 - 100 / (1 + ue / de)
for i in [14, 150, 299]:
    g[f'rsi14_{i}'] = float(rsi.iloc[i])
e12 = close.ewm(span=12, min_periods=12, adjust=False).mean()
e26 = close.ewm(span=26, min_periods=26, adjust=False).mean()
macd = e12 - e26
sig = macd.ewm(span=9, min_periods=9, adjust=False).mean()
for i in [33, 150, 299]:
    g[f'macd_{i}'] = float(macd.iloc[i])
    g[f'macdsig_{i}'] = float(sig.iloc[i])

# --- round-2 TA pack goldens (classical formulas in pandas idiom) ---
high = df['high'].reset_index(drop=True)
low = df['low'].reset_index(drop=True)
vol = df['volume'].reset_index(drop=True)
pc = close.shift(1)

# ATR(14): TR over bars 1.., SMA-seeded Wilder recurrence (engine drops bar 0)
tr = pd.concat([high - low, (high - pc).abs(), (low - pc).abs()], axis=1).max(axis=1)
trs = tr.iloc[1:].reset_index(drop=True)
atr = [None] * len(trs)
s = float(trs[:14].mean())
atr[13] = s
for i in range(14, len(trs)):
    s = (s * 13 + float(trs[i])) / 14
    atr[i] = s
for bar in [14, 150, 299]:  # bar index = trs index + 1
    g[f'atr14_bar{bar}'] = atr[bar - 1]

# Stochastic %K(14)/%D(3) and Williams %R(14)
ll = low.rolling(14).min()
hh = high.rolling(14).max()
k = (close - ll) / (hh - ll) * 100
dline = k.rolling(3).mean()
for bar in [13, 150, 299]:
    g[f'stochk14_bar{bar}'] = float(k.iloc[bar])
for bar in [15, 150, 299]:
    g[f'stochd14_bar{bar}'] = float(dline.iloc[bar])
wr = -100 * (hh - close) / (hh - ll)
for bar in [13, 150]:
    g[f'williams14_bar{bar}'] = float(wr.iloc[bar])

# ROC(12) = pct_change * 100
roc = close.pct_change(12) * 100
for bar in [12, 150]:
    g[f'roc12_bar{bar}'] = float(roc.iloc[bar])

# OBV, ta sign convention (first/flat bars positive)
signed = vol.where(~(close < close.shift(1)), -vol)
obv = signed.cumsum()
for bar in [0, 150, 299]:
    g[f'obv_bar{bar}'] = float(obv.iloc[bar])

# DPO(20) = close.shift(11) - SMA20
dpo = close.shift(11) - close.rolling(20).mean()
for bar in [19, 150]:
    g[f'dpo20_bar{bar}'] = float(dpo.iloc[bar])

# CCI(20) with mean-absolute-deviation around the window mean.
# Bars inside the fully-flat stretch (130-175) are excluded: there CCI is
# 0/0 and pandas' two mean implementations (Kahan'd rolling.mean vs numpy
# mean inside apply) disagree at 1e-14, making the value pure noise.
tp = (high + low + close) / 3
sma_tp = tp.rolling(20).mean()
mad = tp.rolling(20).apply(lambda x: (x - x.mean()).abs().mean())
cci = (tp - sma_tp) / (0.015 * mad)
for bar in [19, 25, 299]:
    g[f'cci20_bar{bar}'] = float(cci.iloc[bar])

# Donchian(20)
for bar in [19, 150]:
    g[f'donchup20_bar{bar}'] = float(high.rolling(20).max().iloc[bar])
    g[f'donchdn20_bar{bar}'] = float(low.rolling(20).min().iloc[bar])


# --- round-4 TA pack goldens (batch 4-6 families) ---
import numpy as np

# Ichimoku (ta visual=False, min_periods=1 rolling midpoints)
ich_conv = 0.5 * (high.rolling(9, min_periods=1).max() + low.rolling(9, min_periods=1).min())
ich_base = 0.5 * (high.rolling(26, min_periods=1).max() + low.rolling(26, min_periods=1).min())
ich_a = (ich_conv + ich_base) / 2
ich_b = 0.5 * (high.rolling(52, min_periods=1).max() + low.rolling(52, min_periods=1).min())
for bar in [0, 25, 150, 299]:
    g[f'ichi_conv_bar{bar}'] = float(ich_conv.iloc[bar])
    g[f'ichi_base_bar{bar}'] = float(ich_base.iloc[bar])
    g[f'ichi_a_bar{bar}'] = float(ich_a.iloc[bar])
    g[f'ichi_b_bar{bar}'] = float(ich_b.iloc[bar])

# TSI(25,13): double EMA of momentum over |momentum|
m = close.diff()
ms = m.ewm(span=25, min_periods=25, adjust=False).mean()
msf = ms.ewm(span=13, min_periods=13, adjust=False).mean()
am = m.abs()
ams = am.ewm(span=25, min_periods=25, adjust=False).mean()
amsf = ams.ewm(span=13, min_periods=13, adjust=False).mean()
tsi = 100 * msf / amsf
for bar in [37, 150, 299]:
    g[f'tsi_bar{bar}'] = float(tsi.iloc[bar])

# PSAR(0.02, 0.2): the ta trend-flip loop
ps = list(close.copy()); ptrend = [True] * len(close)
_up = True; _af = 0.02; _uth = float(high.iloc[0]); _dtl = float(low.iloc[0])
for i in range(2, len(close)):
    rev = False
    if _up:
        sv = ps[i-1] + _af * (_uth - ps[i-1])
        if low.iloc[i] < sv:
            rev = True; sv = _uth; _dtl = float(low.iloc[i]); _af = 0.02
        else:
            if high.iloc[i] > _uth: _uth = float(high.iloc[i]); _af = min(_af + 0.02, 0.2)
            if low.iloc[i-2] < sv: sv = float(low.iloc[i-2])
            elif low.iloc[i-1] < sv: sv = float(low.iloc[i-1])
        ps[i] = sv
    else:
        sv = ps[i-1] - _af * (ps[i-1] - _dtl)
        if high.iloc[i] > sv:
            rev = True; sv = _dtl; _uth = float(high.iloc[i]); _af = 0.02
        else:
            if low.iloc[i] < _dtl: _dtl = float(low.iloc[i]); _af = min(_af + 0.02, 0.2)
            if high.iloc[i-2] > sv: sv = float(high.iloc[i-2])
            elif high.iloc[i-1] > sv: sv = float(high.iloc[i-1])
        ps[i] = sv
    _up = _up != rev
    ptrend[i] = _up
for bar in [2, 3, 150, 299]:
    g[f'psar_bar{bar}'] = float(ps[bar])
    g[f'psar_trend_bar{bar}'] = 1.0 if ptrend[bar] else 0.0

# Aroon(25) over close, first-occurrence argmax/argmin
aroon_up = close.rolling(25).apply(lambda x: 100.0 * (x.values.argmax() + 1) / 25)
aroon_dn = close.rolling(25).apply(lambda x: 100.0 * (x.values.argmin() + 1) / 25)
for bar in [24, 150, 299]:
    g[f'aroonup_bar{bar}'] = float(aroon_up.iloc[bar])
    g[f'aroondn_bar{bar}'] = float(aroon_dn.iloc[bar])

# WMA(9), linear weights 1..9
wma = close.rolling(9).apply(lambda x: (x.values * np.arange(1, 10)).sum() / 45.0)
for bar in [8, 150]:
    g[f'wma9_bar{bar}'] = float(wma.iloc[bar])

# NVI: 1000-seeded gated product
nvi = [1000.0] * len(close)
for i in range(1, len(close)):
    if vol.iloc[i] < vol.iloc[i-1] and close.iloc[i-1] != 0:
        nvi[i] = nvi[i-1] * (1.0 + (close.iloc[i] - close.iloc[i-1]) / close.iloc[i-1])
    else:
        nvi[i] = nvi[i-1]
for bar in [0, 150, 299]:
    g[f'nvi_bar{bar}'] = float(nvi[bar])

# VWAP(14) over typical price
tp14 = (high + low + close) / 3
vwap = (tp14 * vol).rolling(14).sum() / vol.rolling(14).sum()
for bar in [13, 100, 250]:
    g[f'vwap14_bar{bar}'] = float(vwap.iloc[bar])

# Ulcer(14): drawdown from the trailing-14 max, then 14-mean of squares.
# pandas: dd defined from bar 13, squares window full at bar 26.
rmax14 = close.rolling(14).max()
dd14 = 100 * (close - rmax14) / rmax14
ulcer = ((dd14 ** 2).rolling(14).mean()) ** 0.5
for bar in [26, 150]:
    g[f'ulcer14_bar{bar}'] = float(ulcer.iloc[bar])

# Mass index(9,25): double-EMA range ratio, rolling 25 sum
rng = high - low
me1 = rng.ewm(span=9, min_periods=9, adjust=False).mean()
me2 = me1.ewm(span=9, min_periods=9, adjust=False).mean()
mass = (me1 / me2).rolling(25).sum()
for bar in [41, 150, 299]:
    g[f'mass_bar{bar}'] = float(mass.iloc[bar])

# Awesome oscillator(5,34) over the bar midpoint
mid = (high + low) / 2
ao = mid.rolling(5).mean() - mid.rolling(34).mean()
for bar in [33, 150]:
    g[f'ao_bar{bar}'] = float(ao.iloc[bar])

g['weekday_0'] = int(df.index[0].weekday())
g['n_rows'] = 300

def _lit(v):
    if v is None or (isinstance(v, float) and v != v):
        return "Double.NaN"
    return v

lines = ',\n    '.join(f'"{k}" -> {_lit(v)}' for k, v in g.items())
scala = f'''package graft.ohlcv

/** GENERATED by tools/gen_goldens.py from pandas {pd.__version__} over the
  * 300-row fixture src/test/resources/ohlcv_1h_300.csv — the exact
  * pandas calls the reference makes (resample right/right, ewm
  * adjust=False min_periods, rolling ddof=0, ta RSI/MACD formulas).
  * Do not edit by hand.
  */
object PandasGoldens {{
  val firstTs = "{df.index[0].strftime('%Y-%m-%d %H:%M:%S')}"
  val values: Map[String, Double] = Map(
    {lines})
}}
'''
(ROOT / 'src/test/scala/graft/ohlcv/PandasGoldens.scala').write_text(scala)
print('golden keys:', len(g))
