"""Notification service (proc_send_mail_group, body.sql:1011-1161).

Env-var gates preserved:
- ``SEND_MAIL='N'``      → no-op ("PROC_SEND_MAIL is Turned Off");
- ``SEND_MAIL_TEST='Y'`` → recipient overridden to a configured test
  address (the reference hardcodes a personal address — config here);
- ``SEND_MAIL_AUD='Y'``  → audit row appended to send_mail_audit.

Sender is derived ``Forename.Name@<domain>`` from mail_addr_lookup keyed
by the login id's tail (UPPER(SUBSTR(USER,5)), body.sql:1055-1067).
The SMTP transport is injectable; the default uses smtplib against a
configured host (the reference hardcodes mailhost:25).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from etl_batch_spark.orchestration.clock import Clock
from etl_batch_spark.orchestration.envvar import EnvVarService
from etl_batch_spark.orchestration.store import ControlStore


@dataclass
class MailMessage:
    sender: str
    recipients: list[str]
    subject: str
    body: str


class SmtplibTransport:
    def __init__(self, host: str = "localhost", port: int = 25):
        self.host, self.port = host, port

    def send(self, msg: MailMessage) -> None:
        import smtplib

        with smtplib.SMTP(self.host, self.port) as conn:
            payload = (
                f"From: {msg.sender}\r\nTo: {', '.join(msg.recipients)}\r\n"
                f"Subject: {msg.subject}\r\n\r\n{msg.body}"
            )
            conn.sendmail(msg.sender, msg.recipients, payload)


@dataclass
class Notifier:
    """proc_send_mail_group (body.sql:1011-1161); batches call it, no
    query does."""

    store: ControlStore
    user: str
    clock: Clock = field(default_factory=Clock)
    transport: object = field(default_factory=SmtplibTransport)
    domain: str = "example.com"
    test_recipient: str = "batch-test@example.com"

    def send_mail_group(self, recipient: str, subject: str, body: str) -> MailMessage | None:
        """Space-separated recipient list; returns the message sent (for
        tests/inspection) or None when gated off."""
        env = EnvVarService(self.store)
        if env.get("SEND_MAIL") == "N":
            return None

        override = env.get("SEND_MAIL_TEST")
        audit = env.get("SEND_MAIL_AUD")

        stf_id = self.user.upper()[4:]  # UPPER(SUBSTR(USER, 5)), body.sql:1055
        first = last = None
        for row in self.store.rows("mail_addr_lookup"):
            if row["stf_id"] == stf_id:
                first = (row["forename"] or "").title()
                last = (row["name"] or "").title()
        if first is None:
            raise LookupError(f"no mail_addr_lookup row for stf_id {stf_id!r}")

        recipient_str = self.test_recipient if override == "Y" else recipient
        sender = f"{first}.{last}@{self.domain}"
        msg = MailMessage(
            sender=sender,
            recipients=[r for r in recipient_str.split(" ") if r],
            subject=subject,
            body=body,
        )
        self.transport.send(msg)

        if audit == "Y":
            self.store.append(
                "send_mail_audit",
                {
                    "send_date": self.clock.now(),
                    "sender": sender,
                    "recipient": recipient_str,
                    "copied": "",
                    "blind_copied": "",
                    "subject": subject,
                },
            )
        return msg
