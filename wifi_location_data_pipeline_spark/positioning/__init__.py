"""The positioning ensemble (SURVEY.md §2.7) re-expressed as DataFrame ops.

The reference runs six algorithms per HTTP request on a thread pool; here a
*DataFrame of requests* flows through one plan (onepass.py), with no shuffle:

    requests → physics gate on the nested scan array → explode observations
    → broadcast-join known APs → one mapInPandas kernel (onepass_kernel.py)
    that derives the per-element values, packs each request and computes
    context classes, the selection matrix, the six algorithms and the robust
    combiner → one position row per request.

Jobs and the query registry run only this plan; the positioning stream runs
its gate and explode, then the same kernel in the driver.
The row-wise phase modules (prepare, context, selection, algorithms,
numeric, combiner), wired together by pipeline.position_requests_multipass,
are the parity reference that the tests compare the kernel against.
"""
