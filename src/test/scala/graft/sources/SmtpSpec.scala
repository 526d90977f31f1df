package graft.sources

import org.scalatest.funsuite.AnyFunSuite

class SmtpSpec extends AnyFunSuite {

  /** Scripted stub SMTP server on an ephemeral port: accepts one
    * session, answers the protocol, records every line received.
    * Returns (port, () => recorded lines after the session ends).
    */
  private def stubServer(
      greeting: Seq[String] = Seq("220 stub ready"),
      rejectAt: Option[String] = None,
      dropAfterData: Boolean = false): (Int, () => Seq[String]) = {
    val server = new java.net.ServerSocket(0)
    val received = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => {
      try {
        val s = server.accept()
        s.setSoTimeout(10000)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(s.getInputStream, "UTF-8"))
        val out = new java.io.PrintWriter(
          new java.io.OutputStreamWriter(s.getOutputStream, "ISO-8859-1"))
        def reply(lines: String*): Unit = {
          lines.foreach(l => out.print(l + "\r\n")); out.flush()
        }
        reply(greeting: _*)
        var inData = false
        var open = true
        while (open) {
          val line = in.readLine()
          if (line == null) open = false
          else {
            received.add(line)
            if (inData) {
              if (line == ".") {
                inData = false; reply("250 queued")
                if (dropAfterData) open = false // vanish before QUIT
              }
            } else if (rejectAt.exists(p => line.toUpperCase.startsWith(p))) {
              reply("550 no")
            } else if (line.toUpperCase.startsWith("EHLO")) {
              // multiline capability reply — the client must walk it
              reply("250-stub greets you", "250-PIPELINING", "250 OK")
            } else if (line.toUpperCase.startsWith("DATA")) {
              inData = true; reply("354 go ahead")
            } else if (line.toUpperCase.startsWith("QUIT")) {
              reply("221 bye"); open = false
            } else reply("250 OK")
          }
        }
        s.close()
      } catch { case _: Throwable => () }
      finally { done.countDown(); server.close() }
    })
    t.setDaemon(true); t.start()
    (server.getLocalPort, () => {
      done.await(15, java.util.concurrent.TimeUnit.SECONDS)
      scala.jdk.CollectionConverters.ListHasAsScala(received).asScala.toSeq
    })
  }

  test("full session: envelope, multiline EHLO reply, headers, dot-stuffing") {
    val (port, lines) = stubServer()
    Smtp.send("127.0.0.1", port, Smtp.Message(
      "from@x.test", Seq("a@x.test", "<b@x.test>"), "subj here",
      "line one\n.starts with dot\nline three"))
    val got = lines()
    assert(got.contains("MAIL FROM:<from@x.test>"))
    assert(got.contains("RCPT TO:<a@x.test>"))
    assert(got.contains("RCPT TO:<b@x.test>")) // brackets normalized
    assert(got.contains("Subject: subj here"))
    assert(got.contains("..starts with dot")) // dot-stuffed on the wire
    assert(got.contains("line three"))
    assert(got.last == "QUIT")
  }

  test("non-ASCII subject/body arrive as UTF-8 (matching the declared charset)") {
    val (port, lines) = stubServer()
    Smtp.send("127.0.0.1", port, Smtp.Message(
      "f@x.test", Seq("r@x.test"), "résumé ✓", "café → naïve"))
    val got = lines()
    assert(got.contains("Subject: résumé ✓"), got.filter(_.startsWith("Subject")))
    assert(got.contains("café → naïve"))
    assert(got.contains("Content-Transfer-Encoding: 8bit"))
  }

  test("a relay that drops the connection after accepting DATA does not raise (no duplicate re-send)") {
    val (port, lines) = stubServer(dropAfterData = true)
    // the message was accepted (250 after '.') — a QUIT failure past
    // that point must be swallowed, or the node retry would re-send
    Smtp.send("127.0.0.1", port, Smtp.Message(
      "f@x.test", Seq("r@x.test"), "s", "accepted body"))
    assert(lines().contains("accepted body"))
  }

  test("a rejected recipient raises with the server's reply") {
    val (port, _) = stubServer(rejectAt = Some("RCPT"))
    val e = intercept[java.io.IOException] {
      Smtp.send("127.0.0.1", port,
        Smtp.Message("f@x.test", Seq("r@x.test"), "s", "b"))
    }
    assert(e.getMessage.contains("550"), e.getMessage)
  }

  test("header injection via subject or address is refused before connecting") {
    intercept[IllegalArgumentException] {
      Smtp.render(Smtp.Message("f@x.test", Seq("r@x.test"),
        "evil\r\nBcc: hidden@x.test", "b"))
    }
    intercept[IllegalArgumentException] {
      Smtp.send("127.0.0.1", 1, Smtp.Message(
        "f@x.test\r\nRCPT TO:<smuggled@x.test>", Seq("r@x.test"), "s", "b"))
    }
  }

  test("email_notify pipeline node sends a bounded preview and passes rows through") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val (port, lines) = stubServer()
    val df = (1 to 25).map(i =>
        (i.toLong, s"name$i", Array.fill(4)(i.toByte), Seq(i.toFloat, 2f)))
      .toDF("id", "name", "blob", "vec")
    val json =
      s"""{"nodes": [
         |  {"id": "src", "type": "stub"},
         |  {"id": "mail", "type": "email_notify", "data": {"config": {
         |    "host": "127.0.0.1", "port": $port,
         |    "from": "etl@x.test", "to": ["ops@x.test"],
         |    "subject": "run done", "body": "pipeline finished",
         |    "preview_rows": 3}}}
         |], "edges": [{"source": "src", "target": "mail"}]}""".stripMargin
    val (nodes, edges) = graft.plans.PipelineJson.parse(json)
    val wired = nodes.map {
      case n if n.id == "src" =>
        n.copy(op = graft.plans.PipelineDag.Source(_ => df.orderBy("id")))
      case n => n
    }
    val result = graft.plans.PipelineDag.execute(spark, wired, edges)
    // Sink semantics: the input flows on unchanged
    assert(result.outputs("mail").count() == 25)
    val got = lines()
    assert(got.contains("Subject: run done"))
    assert(got.contains("pipeline finished"))
    assert(got.contains("first 3 rows:")) // bounded, not the whole frame
    // binary renders as a byte count, arrays as bracketed values —
    // not JVM identity strings ('[B@…', 'WrappedArray(…)')
    assert(got.exists(_.startsWith("1\tname1\t<4 bytes>\t[1.0, 2.0]")),
      got.filter(_.startsWith("1\t")))
    assert(!got.exists(_.startsWith("4\t"))) // preview cap respected
  }

  test("email_notify preview_rows at its bounds: Int.MaxValue sends every row, 0 sends none, negative is refused") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val df = (1 to 5).map(i => (i.toLong, s"name$i")).toDF("id", "name")
    def preview(rows: Int): Seq[String] = {
      val (port, lines) = stubServer()
      val json =
        s"""{"nodes": [
           |  {"id": "src", "type": "stub"},
           |  {"id": "mail", "type": "email_notify", "data": {"config": {
           |    "host": "127.0.0.1", "port": $port, "to": ["ops@x.test"],
           |    "preview_rows": $rows}}}
           |], "edges": [{"source": "src", "target": "mail"}]}""".stripMargin
      val (nodes, edges) = graft.plans.PipelineJson.parse(json)
      val wired = nodes.map {
        case n if n.id == "src" =>
          n.copy(op = graft.plans.PipelineDag.Source(_ => df.orderBy("id")))
        case n => n
      }
      val result = graft.plans.PipelineDag.execute(spark, wired, edges)
      assert(result.outputs("mail").count() == 5)
      lines()
    }
    val all = preview(Int.MaxValue)
    assert(all.contains("5 rows:"), all)
    assert((1 to 5).forall(i => all.exists(_.startsWith(s"$i\tname$i"))), all)
    val none = preview(0)
    assert(none.contains("first 0 rows:"), none)
    assert(!none.exists(_.startsWith("1\t")), none)
    val e = intercept[IllegalArgumentException] {
      graft.plans.PipelineJson.parse(
        """{"nodes": [{"id": "m", "type": "email_notify", "data": {"config": {
          |  "to": ["ops@x.test"], "preview_rows": -1}}}], "edges": []}""".stripMargin)
    }
    assert(e.getMessage.contains("preview_rows"), e.getMessage)
  }

  test("email_notify without recipients fails at parse time") {
    val json =
      """{"nodes": [{"id": "m", "type": "email_notify",
        |  "data": {"config": {"subject": "s"}}}], "edges": []}""".stripMargin
    val e = intercept[IllegalArgumentException] {
      graft.plans.PipelineJson.parse(json)
    }
    assert(e.getMessage.contains("requires 'to'"), e.getMessage)
  }
}
