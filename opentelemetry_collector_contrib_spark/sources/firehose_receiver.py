"""AWS Kinesis Data Firehose receiver parity — the ``cwmetrics`` record
type: Firehose HTTP delivery requests carrying CloudWatch metric-stream
JSON records, decoded to flat summary datapoints.

Reference behavior:

- request framing (`receiver/awsfirehosereceiver/receiver.go:150-260`):
  the ``X-Amz-Firehose-Request-Id`` header is required; the JSON body
  ``{"requestId", "timestamp", "records": [{"data": <base64>}]}`` must
  carry the same id (missing → 400 "missing request id in body",
  different → 400); a non-empty ``X-Amz-Firehose-Access-Key`` header
  that does not equal the configured key → 401; each non-empty
  ``record.data`` is std-base64 decoded, any decode failure rejects the
  WHOLE request (400); the optional ``X-Amz-Firehose-Common-Attributes``
  header is JSON ``{"commonAttributes": {k: v}}`` — a malformed header
  only drops the attributes (logged), never the request.
- cwmetrics unmarshal (`internal/unmarshaler/cwmetricstream/
  unmarshaler.go:44-100`): each record is newline-split; every
  non-empty datum is a CloudWatch metric-stream JSON object; malformed
  datums and datums failing ``isValid`` (empty metric_name / namespace
  / unit, or missing value) are skipped; if NO datum in the whole
  request survives, the request errors ("record format invalid", 400).
- grouping (`metricsbuilder.go:44-137`): resources are keyed by
  (metric_stream_name, namespace, account_id, region), first-seen
  order; resource attrs are ``cloud.provider=aws``,
  ``cloud.account.id``, ``cloud.region``, ``service.namespace`` +
  ``service.name`` (namespace split on "/" when the prefix is
  case-insensitively "AWS", else service.name = whole namespace and no
  service.namespace), ``aws.cloudwatch.metric_stream_name``. Metrics
  group by name within a resource (unit = first-seen datum's unit);
  duplicate datapoints are dropped by the key (timestamp,
  ``fmt.Sprint(dimensions)``) — Go's fmt prints maps key-sorted, so
  the dedup string here is ``map[k1:v1 k2:v2]`` with byte-sorted keys.
- datapoint (`metricsbuilder.go:139-160`): a Summary point — count =
  ``uint64(value.count)`` (float truncation), sum, quantile 0 = min,
  quantile 1 = max, timestamp = epoch-ms → ns.
- common attributes (`metrics_receiver.go:59-75`): attached to every
  resource AFTER unmarshaling, put-if-absent (never overwrite a
  CloudWatch resource attr).
- response (`receiver.go:228-258`): ``{"requestId", "timestamp"[,
  "errorMessage"]}`` with 200/400/401. The reference stamps
  ``time.Now()``; this rebuild pins the response timestamp to 0 for
  determinism (same pin as the wavefront receiver's omitted-ts rule).

Spark shape: one ``map_records`` pass — one input row is one
Firehose request, fan-out to datapoint rows carries the request_id so
provenance survives. Error-message texts are concise equivalents, not
byte-copies of Go's error strings (documented divergence).
"""

from __future__ import annotations

import base64
import binascii
import json
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..functions.records import map_records

__all__ = [
    "firehose_cwmetrics",
    "firehose_responses",
    "go_map_print",
    "parse_firehose_request",
    "unmarshal_cwmetrics",
]


def go_map_print(d: dict) -> str:
    """``fmt.Sprint(map[string]string)``: ``map[k1:v1 k2:v2]``, keys in
    byte-sorted order (fmt sorts string map keys lexically)."""
    inner = " ".join(f"{k}:{d[k]}" for k in sorted(d))
    return f"map[{inner}]"


def parse_firehose_request(
    request_id: Optional[str],
    body: Optional[str],
    common_header: Optional[str] = None,
    access_key_header: Optional[str] = None,
    expected_access_key: str = "",
) -> tuple[Optional[list[bytes]], dict, int, str]:
    """ServeHTTP's framing half (`receiver.go:150-227`): returns
    (records, common_attributes, status_code, error). records is None
    when the request is rejected before unmarshaling."""
    if not request_id:
        return None, {}, 400, "missing request id in header"
    if access_key_header and access_key_header != expected_access_key:
        return None, {}, 401, "invalid firehose access key"
    try:
        req = json.loads(body if body is not None else "")
        if not isinstance(req, dict):
            raise ValueError("body must be a JSON object")
    except (ValueError, TypeError) as exc:
        return None, {}, 400, f"malformed request body: {exc}"
    body_id = req.get("requestId")
    if not body_id:
        return None, {}, 400, "missing request id in body"
    if body_id != request_id:
        return None, {}, 400, "different request id in body"
    records: list[bytes] = []
    raw_records = req.get("records") or []
    if not isinstance(raw_records, list):
        return None, {}, 400, "malformed request body: records"
    for index, rec in enumerate(raw_records):
        data = rec.get("data") if isinstance(rec, dict) else None
        if data:
            try:
                # Go uses base64.StdEncoding (strict padding); validate=True
                # matches its rejection of non-alphabet bytes.
                records.append(base64.b64decode(data, validate=True))
            except (binascii.Error, ValueError):
                return (
                    None,
                    {},
                    400,
                    f"unable to base64 decode the record at index {index}",
                )
    common: dict = {}
    if common_header:
        try:
            fca = json.loads(common_header)
            parsed = fca.get("commonAttributes") if isinstance(fca, dict) else None
            if isinstance(parsed, dict) and all(
                isinstance(k, str) and isinstance(v, str)
                for k, v in parsed.items()
            ):
                common = parsed
            # malformed header: attributes dropped, request continues
            # (`receiver.go:211-217` logs and passes nil)
        except ValueError:
            common = {}
    return records, common, 200, ""


def _parse_datum(datum: bytes) -> Optional[dict]:
    """One newline-delimited cWMetric datum → dict, or None when the
    reference would skip it (json.Unmarshal error or isValid failure,
    `unmarshaler.go:52-80,93-96`)."""
    try:
        m = json.loads(datum)
    except ValueError:
        return None
    if not isinstance(m, dict):
        return None
    out = {
        "metric_stream_name": "",
        "account_id": "",
        "region": "",
        "namespace": "",
        "metric_name": "",
        "dimensions": {},
        "timestamp": 0,
        "value": None,
        "unit": "",
    }
    str_fields = {
        "metric_stream_name", "account_id", "region", "namespace",
        "metric_name", "unit",
    }
    for k, v in m.items():
        if k in str_fields:
            if not isinstance(v, str):
                return None  # Go json type-mismatch → Unmarshal error
            out[k] = v
        elif k == "dimensions":
            if v is None:
                continue
            if not isinstance(v, dict) or not all(
                isinstance(dk, str) and isinstance(dv, str)
                for dk, dv in v.items()
            ):
                return None
            out["dimensions"] = v
        elif k == "timestamp":
            # int64 destination: a fractional JSON number is an error
            if isinstance(v, bool) or not isinstance(v, int):
                return None
            out["timestamp"] = v
        elif k == "value":
            if v is None:
                continue
            if not isinstance(v, dict):
                return None
            val = {"max": 0.0, "min": 0.0, "sum": 0.0, "count": 0.0}
            for vk, vv in v.items():
                if vk in val:
                    if isinstance(vv, bool) or not isinstance(vv, (int, float)):
                        return None
                    val[vk] = float(vv)
            out["value"] = val
        # unknown keys: ignored, like encoding/json without DisallowUnknownFields
    if not (out["metric_name"] and out["namespace"] and out["unit"]
            and out["value"] is not None):
        return None  # isValid (`unmarshaler.go:93-96`)
    return out


def _service_attrs(namespace: str) -> tuple[str, str]:
    """toServiceAttributes (`metricsbuilder.go:83-90`): split on the
    first "/" when the prefix is case-insensitively "aws"."""
    i = namespace.find("/")
    if i != -1 and namespace[:i].lower() == "aws":
        return namespace[:i], namespace[i + 1 :]
    return "", namespace


def unmarshal_cwmetrics(
    records: list[bytes], common: Optional[dict] = None
) -> tuple[list[dict], Optional[str]]:
    """cwmetrics Unmarshal + common-attribute attach: records →
    first-seen-ordered flat datapoint dicts, or the per-request error
    when no datum survives (`unmarshaler.go:85-88`)."""
    # builders: resource key → metric name → seen datapoint keys;
    # rows accumulate in (resource first-seen, metric first-seen,
    # datum arrival) order exactly like the pmetric Append* chain.
    resources: dict[tuple, dict] = {}
    rows: list[dict] = []
    for record in records:
        for datum in bytes(record).split(b"\n"):
            if not datum:
                continue
            m = _parse_datum(datum)
            if m is None:
                continue
            rkey = (
                m["metric_stream_name"], m["namespace"],
                m["account_id"], m["region"],
            )
            res = resources.get(rkey)
            if res is None:
                svc_ns, svc_name = _service_attrs(m["namespace"])
                attrs = {
                    "cloud.provider": "aws",
                    "cloud.account.id": m["account_id"],
                    "cloud.region": m["region"],
                }
                if svc_ns:
                    attrs["service.namespace"] = svc_ns
                attrs["service.name"] = svc_name
                attrs["aws.cloudwatch.metric_stream_name"] = (
                    m["metric_stream_name"]
                )
                res = {"attrs": attrs, "metrics": {}}
                resources[rkey] = res
            mb = res["metrics"].get(m["metric_name"])
            if mb is None:
                mb = {"unit": m["unit"], "seen": set()}
                res["metrics"][m["metric_name"]] = mb
            dpkey = (m["timestamp"], go_map_print(m["dimensions"]))
            if dpkey in mb["seen"]:
                continue
            mb["seen"].add(dpkey)
            v = m["value"]
            rows.append(
                {
                    "resource": res["attrs"],
                    "metric_name": m["metric_name"],
                    "unit": mb["unit"],
                    "time_unix_nano": m["timestamp"] * 1_000_000,
                    "dimensions": m["dimensions"],
                    "count": int(v["count"]),  # uint64(float64) truncation
                    "sum": v["sum"],
                    "min": v["min"],
                    "max": v["max"],
                }
            )
    if not resources:
        return [], "record format invalid"
    if common:
        for res in resources.values():
            for k, v in common.items():
                if k not in res["attrs"]:
                    res["attrs"][k] = v
    return rows, None


_DP_SCHEMA = T.StructType(
    [
        T.StructField("request_id", T.StringType()),
        T.StructField("resource", T.MapType(T.StringType(), T.StringType())),
        T.StructField("metric_name", T.StringType()),
        T.StructField("unit", T.StringType()),
        T.StructField("time_unix_nano", T.LongType()),
        T.StructField("dimensions", T.MapType(T.StringType(), T.StringType())),
        T.StructField("count", T.LongType()),
        T.StructField("sum", T.DoubleType()),
        T.StructField("min", T.DoubleType()),
        T.StructField("max", T.DoubleType()),
    ]
)

_RESP_SCHEMA = T.StructType(
    [
        T.StructField("request_id", T.StringType()),
        T.StructField("status_code", T.IntegerType()),
        T.StructField("timestamp", T.LongType()),
        T.StructField("error_message", T.StringType()),
    ]
)


def _process_request(
    row: dict,
    common_col: Optional[str],
    access_key_col: Optional[str],
    expected_access_key: str,
) -> tuple[list[dict], dict]:
    rid = row.get("request_id")
    records, common, code, err = parse_firehose_request(
        None if rid is None or pd.isna(rid) else str(rid),
        row.get("body"),
        row.get(common_col) if common_col else None,
        row.get(access_key_col) if access_key_col else None,
        expected_access_key,
    )
    dps: list[dict] = []
    if records is not None:
        rows, uerr = unmarshal_cwmetrics(records, common)
        if uerr is not None:
            code, err = 400, uerr
        else:
            for r in rows:
                r["request_id"] = rid
                dps.append(r)
    resp = {
        "request_id": "" if rid is None or pd.isna(rid) else str(rid),
        "status_code": code,
        "timestamp": 0,  # time.Now() pinned for determinism
        "error_message": err,
    }
    return dps, resp


def _requests(df, request_id_col, body_col, common_col, access_key_col):
    cols = [df[request_id_col].alias("request_id"), df[body_col].alias("body")]
    if common_col:
        cols.append(df[common_col].alias(common_col))
    if access_key_col:
        cols.append(df[access_key_col].alias(access_key_col))
    return df.select(*cols)


def firehose_cwmetrics(
    df: DataFrame,
    request_id_col: str = "request_id",
    body_col: str = "body",
    common_col: Optional[str] = None,
    access_key_col: Optional[str] = None,
    access_key: str = "",
) -> DataFrame:
    """Firehose request rows → flat cwmetrics summary datapoints
    (rejected requests contribute no rows). Zero-shuffle."""
    src = _requests(df, request_id_col, body_col, common_col, access_key_col)

    def one(row: dict) -> list[dict]:
        return _process_request(row, common_col, access_key_col, access_key)[0]

    return map_records(src, one, _DP_SCHEMA)


def firehose_responses(
    df: DataFrame,
    request_id_col: str = "request_id",
    body_col: str = "body",
    common_col: Optional[str] = None,
    access_key_col: Optional[str] = None,
    access_key: str = "",
) -> DataFrame:
    """Per-request Firehose response rows (status_code + errorMessage,
    `receiver.go:228-258`); response timestamp pinned to 0."""
    src = _requests(df, request_id_col, body_col, common_col, access_key_col)

    def one(row: dict) -> list[dict]:
        return [_process_request(row, common_col, access_key_col, access_key)[1]]

    return map_records(src, one, _RESP_SCHEMA)
