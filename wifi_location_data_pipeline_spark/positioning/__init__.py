"""The positioning ensemble (SURVEY.md §2.7) re-expressed as DataFrame ops.

The reference runs six algorithms per HTTP request on a thread pool; here a
*DataFrame of requests* flows through one plan (onepass.py), with no shuffle:

    requests → physics gate on the nested scan array → explode observations
    → broadcast-join known APs → per-element derived values (codegen exprs)
    → one mapInPandas kernel (onepass_kernel.py) that packs each request and
    computes context classes, the selection matrix, the six algorithms and
    the robust combiner → one position row per request.

Jobs, the positioning stream and the query registry run only this plan.
The row-wise phase modules (prepare, context, selection, algorithms,
numeric, combiner), wired together by pipeline.position_requests_multipass,
are the parity reference that the tests compare the kernel against.
"""
