"""The three analytical views, each one ``spark.sql`` statement.

Reference SQL lives in settings.yaml: RETENTION (24-63), TRANSACTIONS
(88-123), AUTO_OPTIOM (132-140). The views stay in the reference's own
form, SQL text, because building a plan from text is cheap: the
parser turns one string into the whole plan in one JVM call, while a
Column-API builder pays one py4j round trip per expression node
(RETENTION builds in about a quarter of its Column-API time, measured
on a 4-core host). The text is Spark SQL, not the BigQuery dialect: no
trailing commas, no duplicate-column SELECT *, and explicit output
names, so the columns and their order are the same as the reference's
projection.

Each builder takes the fact + dimension DataFrames (bound as
DataFrame arguments of ``spark.sql``) and returns the view's logical
plan; register with createOrReplaceTempView for the spark.sql surface.
Dimension joins are broadcast (all four metadata tables are tiny
string→string lookups, SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from awi_datapipelinepublic_spark.functions.cleaning import quote_ident


def retention_view(
    renewals: DataFrame,
    geo: DataFrame,
    channels: DataFrame,
    agencies: DataFrame,
    ttypes: DataFrame,
) -> DataFrame:
    """RETENTION (settings.yaml:24-63): 17-col projection → 4 broadcast
    left joins → COALESCE defaults → 4 CASE status indicators → NOT
    NULL filter → sort by PolicyExpiryDate. Output: the 17 projected
    columns, then Channel, Agency, TType, Geography, Renewed,
    Cancelled, Expired, Active."""
    return renewals.sparkSession.sql(
        """
        SELECT /*+ BROADCAST(g, c, a, t) */
            r.AgencyNumber, r.PolicyNumber, r.PolicyEffectiveDate, r.PolicyExpiryDate,
            r.TransactionType, r.LeaseIndicator, r.DateRenewed, r.PolicyStatus,
            r.ProducerCode1, r.ProducerCode2, r.ProducerName1, r.ProducerName2,
            r.RenewedByProducerCode2, r.City, r.PostalCode, r.CommissionAmt, r.DateCancelled,
            -- 'Channel' exact-case (settings.yaml:29 ... AS Channel) for
            -- case-sensitive downstream consumers.
            COALESCE(c.CHANNEL, 'DEALERS') AS Channel,
            a.metaAgencyName AS Agency,
            COALESCE(t.TType, 'CHANGE') AS TType,
            COALESCE(g.meta_geo, 'NA_OR_OUT') AS Geography,
            CASE WHEN r.PolicyStatus = 'R' THEN 1 ELSE 0 END AS Renewed,
            CASE WHEN r.PolicyStatus = 'C' THEN 1 ELSE 0 END AS Cancelled,
            CASE WHEN r.PolicyStatus = 'E' THEN 1 ELSE 0 END AS Expired,
            CASE WHEN r.PolicyStatus = 'A' THEN 1 ELSE 0 END AS Active
        FROM {renewals} r
        LEFT JOIN {geo} g ON r.City = g.meta_city
        LEFT JOIN {channels} c ON r.ProducerCode2 = c.P2
        LEFT JOIN {agencies} a ON r.AgencyNumber = a.metaAgencyNumber
        LEFT JOIN {ttypes} t ON r.TransactionType = t.ttno
        WHERE r.PolicyNumber IS NOT NULL
        ORDER BY r.PolicyExpiryDate
        """,
        renewals=renewals, geo=geo, channels=channels, agencies=agencies, ttypes=ttypes,
    )


def transactions_view(
    transactions: DataFrame,
    geo: DataFrame,
    channels: DataFrame,
    agencies: DataFrame,
    ttypes: DataFrame,
) -> DataFrame:
    """TRANSACTIONS (settings.yaml:88-123): 19-col projection → 4
    broadcast left joins → COALESCE defaults → IsNew flag → sort.

    The reference derives IsNew via global ROW_NUMBER + per-policy MIN
    + equality (settings.yaml:90-94); the single partitioned window
    here is the scale-correct equivalent (SURVEY.md §2.E) — identical
    output for distinct EntryDateTime, no single-partition shuffle. A
    global Id column is still exposed for parity via the scalable
    two-pass pattern when callers need it (operators/windows.py).
    """
    return transactions.sparkSession.sql(
        """
        SELECT /*+ BROADCAST(t, c, g, a) */
            x.AgencyNumber, x.AgencyNameAndNo, x.ProducerCode1, x.ProducerCode2,
            x.ProducerName1, x.ProducerName2, x.DCID, x.EntryDateTime,
            x.PolicyEffectiveDate, COALESCE(x.PolicyType, 'A') AS PolicyType,
            x.PolicyNumber, x.TransactionType, x.City, x.PostalCode, x.VehicleType,
            x.Make, x.Model, x.VIN AS VIN_A, x.CommTotal,
            COALESCE(t.TType, 'CHANGE') AS TType,
            -- 'Channel' exact-case, matching settings.yaml:104 AS Channel.
            COALESCE(c.CHANNEL, 'DEALERS') AS Channel,
            COALESCE(g.meta_geo, 'NA_OR_OUT') AS Geo,
            a.metaAgencyName AS Agency,
            CASE WHEN row_number() OVER (PARTITION BY x.PolicyNumber ORDER BY x.EntryDateTime) = 1
                 THEN 'N' ELSE 'E' END AS IsNew
        FROM {transactions} x
        LEFT JOIN {ttypes} t ON x.TransactionType = t.ttno
        LEFT JOIN {channels} c ON x.ProducerCode2 = c.P2
        LEFT JOIN {geo} g ON x.City = g.meta_city
        LEFT JOIN {agencies} a ON x.AgencyNumber = a.metaAgencyNumber
        ORDER BY x.EntryDateTime
        """,
        transactions=transactions, geo=geo, channels=channels, agencies=agencies, ttypes=ttypes,
    )


def auto_optiom_view(transactions_v: DataFrame, optiom: DataFrame) -> DataFrame:
    """AUTO_OPTIOM (settings.yaml:132-140): TRANSACTIONS view ⟕ optiom
    base on VIN, EntryDateTime ≥ 2019-01-01 filter, desc sort. Output:
    the view's columns, then VIN_OP (optiom's VIN), then optiom's
    other columns.

    Fact-to-fact left join: no broadcast hint, AQE owns the strategy
    (sort-merge + skew split). The date predicate pushes into the
    fact scan.
    """
    # Braces doubled: the text below is a format string for spark.sql.
    others = "".join(f", o.{quote_ident(c)}" for c in optiom.columns if c != "VIN")
    others = others.replace("{", "{{").replace("}", "}}")
    return optiom.sparkSession.sql(
        f"""
        SELECT v.*, o.VIN AS VIN_OP{others}
        FROM {{transactions_v}} v
        LEFT JOIN {{optiom}} o ON v.VIN_A = o.VIN
        WHERE v.EntryDateTime >= CAST('2019-01-01' AS DATE)
        ORDER BY v.EntryDateTime DESC
        """,
        transactions_v=transactions_v, optiom=optiom,
    )
